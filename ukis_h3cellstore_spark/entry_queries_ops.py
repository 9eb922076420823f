"""Driver-contract queries for the training-data operators (ops/*),
paired with DuckDB oracles over the documents/embeddings tables.

Tokenization parity ground: ``trim`` + split on ``\\s+``; hashes are
md5-derived (identical in both engines); cosine similarities are
sequential double-precision folds rounded to 4 decimals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.ops import annotation as AN
from ukis_h3cellstore_spark.ops import dedup as D
from ukis_h3cellstore_spark.ops import graph as G
from ukis_h3cellstore_spark.ops import multimodal as M
from ukis_h3cellstore_spark.ops import sampling as SM
from ukis_h3cellstore_spark.ops import selection as SEL
from ukis_h3cellstore_spark.ops import similarity as S
from ukis_h3cellstore_spark.ops import sketches as SK
from ukis_h3cellstore_spark.ops import text as X
from ukis_h3cellstore_spark.ops import versioning as V


#: tools/plan_report.py sets this to a callable(label, df) to capture
#: per-stage physical plans inside composed flagships (the checkpoint
#: boundaries truncate the final lineage, so the stages must be probed
#: while the pipeline builds). None in normal runs — zero overhead.
PLAN_PROBE = None


def _probe(label: str, df: DataFrame) -> DataFrame:
    if PLAN_PROBE is not None:
        PLAN_PROBE(label, df)
    return df


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a scan whose file layout yields fewer input partitions
    than the session has cores: a parquet file can never split below
    row-group granularity, so at the test SFs the single-file corpus
    funnels every downstream per-row expression chain (tokenize, C4
    regexes, shingles, vector math) through ONE task — input skew,
    guide §2.5. Round-robin repartition is deterministic (Spark sorts
    before round-robin repartition, SPARK-23207) and the branch is a
    no-op at scale, where the scan already splits past the core
    count.

    OPT-IN per call site (r15): r14 applied this inside every
    ``_docs``/``_embs`` read and the driver measured the 23 queries
    touched ONLY by the spread at geomean 0.741 vs the 0.894 drift
    line — a ~17% tax. The full-corpus round-robin exchange only pays
    for itself where an expression-heavy chain (C4 render, BPE train,
    shingle explode) would otherwise run on the 1-task scan AND a
    lineage barrier pins that chain's parallelism; plain
    scan→aggregate queries collapse the row stream at the scan via
    partial aggregation, so shipping full-width rows buys nothing."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _docs(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _spread(df, spark) if spread else df


def _embs(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _spread(df, spark) if spread else df


#: readback schema of layout.write_jsonl_shards exports produced by the
#: pack pipelines' `export` select (doc_id, shard, n_tokens, bin, text)
#: — one definition so the three readers cannot drift from each other
_PACK_EXPORT_SCHEMA = (
    "bin long, doc_id long, n_tokens long, shard long, text string"
)

_DUCK_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_DUCK_HASH64 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


# ----------------------------------------------------------------- text suite


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (paired A/B 0.34 vs 0.48 s): the whole tokenize chain
    # runs on the unsplittable scan and the output stays row-per-doc
    return X.text_stats(_docs(spark, sf_dir, spread=True))


Q_TEXT_STATS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKS}) END AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(list_filter({_DUCK_TOKS},
                   t -> list_contains({X.STOPWORDS!r}, t))) END AS n_stopwords
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_chars AS INT) AS n_chars,
       CAST(n_punct AS INT) AS n_punct,
       CAST(n_stopwords AS INT) AS n_stopwords,
       CASE WHEN n_chars > 0
            THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_tokens > 0
            THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio,
       (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        - CASE WHEN n_chars > 0
               THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) AS quality_score
FROM tok
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.language_id(_docs(spark, sf_dir))


def _q_text_langid_sql() -> str:
    score_exprs = []
    for lang, markers in sorted(X.LANG_MARKERS.items()):
        score_exprs.append(
            f"CAST(len(list_filter({_DUCK_TOKS}, t -> list_contains({markers!r}, t)))"
            f" AS INT) AS score_{lang}"
        )
    langs = sorted(X.LANG_MARKERS)
    best_lang = f"'{langs[0]}'"
    best_score = f"score_{langs[0]}"
    for lang in langs[1:]:
        best_lang = f"CASE WHEN score_{lang} > {best_score} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"greatest({best_score}, score_{lang})"
    return f"""
WITH scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {', '.join(score_exprs)}
  FROM documents
)
SELECT doc_id, {', '.join('score_' + lang for lang in langs)},
       {best_lang} AS predicted_lang,
       CAST({best_score} AS BIGINT) AS predicted_score
FROM scored
"""


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_counts(_docs(spark, sf_dir))


_DUCK_PIECES = r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')"

Q_TEXT_TOKEN_COUNTS_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len({_DUCK_TOKS}) END AS INT) AS n_tokens_ws,
       CAST(len({_DUCK_PIECES}) AS INT) AS n_pieces_regex,
       CAST(COALESCE(list_sum(list_transform({_DUCK_PIECES},
                 t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) AS BIGINT)
         AS n_tokens_bpe
FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(_docs(spark, sf_dir))


Q_TEXT_FINGERPRINT_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok,
         generate_subscripts({_DUCK_TOKS}, 1) AS pos
  FROM documents WHERE length(trim(text)) > 0
),
hashed AS (
  SELECT doc_id,
         (('0x' || substr(md5(tok), 1, 10))::BIGINT) * (((pos - 1) % 16) + 1) AS h
  FROM toks
),
fps AS (
  SELECT doc_id, CAST(bit_xor(h) AS BIGINT) AS fingerprint FROM hashed GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(f.fingerprint, 0) AS fingerprint
FROM documents d LEFT JOIN fps f ON d.doc_id = f.doc_id
"""


# ---------------------------------------------------------------- dedup suite


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(_docs(spark, sf_dir))


Q_DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text))) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""

_DUCK_SHINGLES = """
SELECT DISTINCT doc_id,
       concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
FROM (SELECT doc_id, {toks} AS toks FROM documents) t,
     unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
""".format(toks=_DUCK_TOKS)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)


Q_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(_docs(spark, sf_dir))


def _duck_minhash_slot(i: int) -> str:
    """Slot hash parity with ops.dedup._hash64_slot: one md5-derived
    base hash, per-slot affine scrambles mod the MLlib prime."""
    a, b = D._minhash_coeffs(i)
    p = D.MINHASH_PRIME
    x = f"((('0x' || substr(md5(shingle), 1, 15))::BIGINT) % {p})"
    return f"(({a} * {x} + {b}) % {p})"


def _q_dedup_minhash_sql() -> str:
    mins = ", ".join(
        f"CAST(MIN({_duck_minhash_slot(i)}) AS BIGINT) AS m{i}" for i in range(8)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES})
SELECT CAST(doc_id AS BIGINT) AS doc_id, {mins}
FROM sh GROUP BY doc_id
"""


def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), min_est_jaccard=0.25)


def _q_dedup_minhash_lsh_sql() -> str:
    mins = ", ".join(
        f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8)
    )
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.m{i} = b.m{i}" for i in range(b * 2, b * 2 + 2)) + ")"
        for b in range(4)
    )
    eq_sum = " + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(8))
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       ({eq_sum}) / 8.0 AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_conds})
WHERE ({eq_sum}) / 8.0 >= 0.25
"""


def q_dedup_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume pre-flight for the MinHash LSH join
    (ops/dedup.py: minhash_bucket_stats): per-(band, band_key) bucket
    populations with the EXACT candidate-pair count the LSH self-join
    would generate — the one-aggregation answer to "can I afford this
    dedup run" that the hamming side already had
    (hamming_bucket_stats / the density probe). Only >=2-member
    buckets are emitted (singletons generate no pairs)."""
    return D.minhash_bucket_stats(_docs(spark, sf_dir)).select(
        F.col("band").cast("int").alias("band"),
        "band_key",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("candidate_pairs").cast("long").alias("candidate_pairs"),
    )


def _q_dedup_minhash_buckets_sql() -> str:
    mins = ", ".join(
        f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST(m{2*b} AS VARCHAR) || '|' || CAST(m{2*b+1} AS VARCHAR) AS band_key "
        "FROM sig"
        for b in range(4)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_rows})
SELECT CAST(band AS INT) AS band, band_key,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS candidate_pairs
FROM bands GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def q_dedup_minhash_guided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-armed MinHash LSH pairs (ops/dedup.py: minhash_lsh_pairs
    with pair_budget + guided_max_bucket_size): the bucket-stats
    pre-flight prices the exact candidate volume SUM C(n_docs, 2)
    BEFORE the self-join and tightens max_bucket_size to the largest
    value whose kept volume fits the budget (policy='tighten' — the
    recall trade is explicit, unlike the hamming side no other band
    is guaranteed to re-catch a dropped bucket's pairs). At sf0.01
    the corpus fits the 1200-pair budget uncapped; at sf0.1 the cap
    resolves to 4 — the gate hashes BOTH behaviors against an oracle
    that re-derives the cap from the same cumulative size histogram."""
    return D.minhash_lsh_pairs(
        _docs(spark, sf_dir), min_est_jaccard=0.25, pair_budget=1200
    )


def _q_dedup_minhash_guided_sql() -> str:
    mins = ", ".join(
        f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST(m{2*b} AS VARCHAR) || '|' || CAST(m{2*b+1} AS VARCHAR) AS band_key "
        "FROM sig"
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_rows}),
bsize AS (SELECT band, band_key, COUNT(*) AS n_docs
          FROM bands GROUP BY 1, 2),
hist AS (SELECT n_docs,
                SUM((n_docs * (n_docs - 1)) // 2) AS pairs
         FROM bsize WHERE n_docs >= 2 GROUP BY 1),
cum AS (SELECT n_docs,
               SUM(pairs) OVER (ORDER BY n_docs) AS cum_pairs
        FROM hist),
cap AS (SELECT COALESCE(MAX(n_docs) FILTER (WHERE cum_pairs <= 1200), 1)
               AS max_sz FROM cum),
kept AS (SELECT b.doc_id, b.band, b.band_key
         FROM bands b
         JOIN bsize s ON s.band = b.band AND s.band_key = b.band_key, cap
         WHERE s.n_docs <= cap.max_sz),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM kept a
         JOIN kept b ON a.band = b.band AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       ({eq_sum}) / 8.0 AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b
WHERE ({eq_sum}) / 8.0 >= 0.25
"""


_IDX_COUNTER = [0]


def q_dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 incremental dedup (ops/dedup.py: build_minhash_index +
    dedup_against_index): the existing corpus (doc_id ≥ 100) is
    persisted ONCE as a bucketed banded-MinHash index; the incoming
    batch (doc_id < 100) bands itself and joins the index — only the
    batch side shuffles (test_ops asserts the index side reads its
    buckets Exchange-free)."""
    docs = _docs(spark, sf_dir)
    _IDX_COUNTER[0] += 1
    table = f"mh_index_{_IDX_COUNTER[0]}_{abs(hash(sf_dir)) % 10_000}"
    D.build_minhash_index(docs.filter(F.col("doc_id") >= 100), table)
    return D.dedup_against_index(
        docs.filter(F.col("doc_id") < 100), table, min_est_jaccard=0.25
    )


def _q_dedup_incremental_index_sql() -> str:
    mins = ", ".join(
        f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8)
    )
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.m{i} = b.m{i}" for i in range(b * 2, b * 2 + 2)) + ")"
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
SELECT CAST(a.doc_id AS BIGINT) AS id_new,
       CAST(b.doc_id AS BIGINT) AS id_indexed,
       ({eq_sum}) / 8.0 AS est_jaccard
FROM sig a JOIN sig b
  ON a.doc_id < 100 AND b.doc_id >= 100 AND ({band_conds})
WHERE ({eq_sum}) / 8.0 >= 0.25
"""


def q_dedup_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full day-2 crawl-ingest composition (ops/dedup.py:
    build_minhash_index → dedup_against_index → excise_shared_spans):
    the existing corpus (doc_id ≥ 100) is persisted once as the
    bucketed MinHash index; the incoming snapshot (doc_id < 100) is
    screened against it and near-dup documents are DROPPED
    (est_jaccard ≥ 0.25); the survivors then get every exact shared
    run vs the established corpus CUT (Lee et al. span excision — the
    corpus keeps its copy, the new crawl loses the repeated spans,
    enforced by offsetting survivor ids above the corpus ids).
    Returns the ingested snapshot: (doc_id, text_clean, n_tokens,
    n_cut).

    Scale shape: index built/shuffled once (bucketed — the screening
    join reads it Exchange-free, plan-asserted in tests/test_ops.py);
    only the batch moves; the excision union is corpus+batch-sized
    but its inverted-index join is df-capped per shingle."""
    # spread: the index build's shingle explode runs directly on the
    # corpus scan — 1-task at the test SFs without it
    docs = _docs(spark, sf_dir, spread=True)
    corpus = docs.filter(F.col("doc_id") >= 100).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    _IDX_COUNTER[0] += 1
    table = f"mh_index_e2e_{_IDX_COUNTER[0]}_{abs(hash(sf_dir)) % 10_000}"
    D.build_minhash_index(corpus, table)
    flagged = (
        D.dedup_against_index(batch, table, min_est_jaccard=0.25)
        .select(F.col("id_new").alias("doc_id"))
        .distinct()
    )
    survivors = batch.join(flagged, on="doc_id", how="left_anti")
    union = corpus.unionByName(
        survivors.select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
        )
    )
    # cut_min_id: only the ingested snapshot is rewritten/returned, so
    # the extents join's cut side is the batch, not the whole corpus —
    # byte-identical to excising the full union and filtering (cuts
    # land on the higher id; the corpus keeps its copy by construction)
    out = D.excise_shared_spans(union, k=5, min_span=8, cut_min_id=1_000_000)
    return out.select(
        (F.col("doc_id") - F.lit(1_000_000)).alias("doc_id"),
        "text_clean",
        "n_tokens",
        "n_cut",
    )


def _q_dedup_incremental_e2e_sql() -> str:
    mins = ", ".join(
        f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8)
    )
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.m{i} = b.m{i}" for i in range(b * 2, b * 2 + 2)) + ")"
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
flagged AS (
  SELECT DISTINCT a.doc_id AS id_new
  FROM sig a JOIN sig b
    ON a.doc_id < 100 AND b.doc_id >= 100 AND ({band_conds})
  WHERE ({eq_sum}) / 8.0 >= 0.25
),
uni AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 100
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id < 100 AND doc_id NOT IN (SELECT id_new FROM flagged)
),
toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM uni),
pos AS (SELECT doc_id, generate_subscripts(t, 1) AS i, t FROM toks),
g AS (SELECT doc_id, i, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
      FROM pos WHERE i + 4 <= len(t)),
m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i - b.i AS diag, a.i AS pa
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
isl AS (SELECT id_a, id_b, diag, pa,
               pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                       ORDER BY pa) AS grp
        FROM m),
runs AS (SELECT id_a, id_b, diag, grp, COUNT(*) AS cnt,
                MIN(pa) AS pstart, MAX(pa) AS pend
         FROM isl GROUP BY 1, 2, 3, 4),
drun AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b, diag
                                      ORDER BY cnt DESC, pstart ASC) AS rn
         FROM runs),
cuts AS (SELECT id_b AS doc_id, pstart - diag AS b_start,
                pend + 4 - diag AS b_end
         FROM drun WHERE rn = 1 AND cnt + 4 >= 8),
tok_rows AS (SELECT doc_id, i AS p, t[i] AS w FROM pos),
marked AS (
  SELECT tr.doc_id, tr.p, tr.w,
         EXISTS (SELECT 1 FROM cuts c
                 WHERE c.doc_id = tr.doc_id
                   AND tr.p BETWEEN c.b_start AND c.b_end) AS cut
  FROM tok_rows tr
)
SELECT CAST(doc_id - 1000000 AS BIGINT) AS doc_id,
       COALESCE(string_agg(w, ' ' ORDER BY p) FILTER (WHERE NOT cut), '')
         AS text_clean,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE cut) AS BIGINT) AS n_cut
FROM marked WHERE doc_id >= 1000000 GROUP BY doc_id
"""


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup: MinHash-LSH candidates verified with the
    exact shingle Jaccard (ops/dedup.lsh_verified_pairs) — the
    production recall-then-precision dedup shape."""
    return D.lsh_verified_pairs(
        _docs(spark, sf_dir), min_est_jaccard=0.25, threshold=0.5
    )


def _q_dedup_lsh_verified_sql() -> str:
    return f"""
WITH cand AS ({_q_dedup_minhash_lsh_sql()}),
sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, c.n_common,
       c.n_common / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE c.n_common / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE) >= 0.5
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_docs(spark, sf_dir))


def q_dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_dup_groups(_docs(spark, sf_dir))


def _q_dedup_simhash_groups_sql() -> str:
    return f"""
WITH sims AS ({_q_dedup_simhash_sql()})
SELECT simhash, CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_docs
FROM sims GROUP BY simhash HAVING COUNT(*) >= 2
"""


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 32-bit fingerprints: the 4 pigeonhole strips are 8 bits wide
    # (256 keys each), so band buckets stay small and the candidate
    # join stays sub-quadratic — at 16 bits the 4-bit strips (16 keys)
    # made every bucket hold 1/16th of the corpus, and virtually all
    # "pairs" were hash-collision noise rather than near-dups
    return D.simhash_hamming_pairs(_docs(spark, sf_dir), bits=32, max_hamming=3)


def _q_dedup_simhash_hamming_sql() -> str:
    # the banded-XOR Spark path is EXACT (pigeonhole guarantees every
    # hamming≤k pair collides in ≥1 strip), so the oracle is the plain
    # quadratic hamming computation over the fingerprints
    return f"""
WITH sims AS ({_q_dedup_simhash_sql(bits=32)})
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _q_dedup_simhash_sql(bits: int = 16) -> str:
    h = "(('0x' || substr(md5(shingle), 1, 15))::BIGINT)"
    sums = ", ".join(
        f"SUM(CASE WHEN (({h} >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    fp = " | ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
agg AS (SELECT doc_id, {sums} FROM sh GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(({fp}) AS BIGINT) AS simhash
FROM agg
"""


# ----------------------------------------------------------- similarity suite

_DUCK_COSINE = """
list_reduce(list_transform(list_zip(a.c_vec, q.q_vec),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, v) -> s + v)
/ (sqrt(list_reduce(list_transform(a.c_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        (s, v) -> s + v))
   * sqrt(list_reduce(list_transform(q.q_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        (s, v) -> s + v)))
"""


def q_embedding_norm_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding health report: vector count, dimension,
    and average L2 norm — pure higher-order array folds
    (transform + aggregate) in whole-stage codegen, the shape every
    embedding-column sanity check takes before ANN indexing."""
    e = _embs(spark, sf_dir)
    sq = F.transform(
        F.col("embedding"), lambda v: v.cast("double") * v.cast("double")
    )
    norm = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))
    return (
        e.select("label", F.size("embedding").alias("dim"), norm.alias("__n"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("__n"), 6).alias("avg_l2_norm"),
        )
    )


Q_EMBEDDING_NORM_SQL = """
SELECT label, CAST(len(embedding) AS INT) AS dim,
       COUNT(*) AS n_vecs,
       round(AVG(sqrt(list_reduce(
           list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
           (s, v) -> s + v))), 6) AS avg_l2_norm
FROM embeddings GROUP BY 1, 2
"""


def q_ann_cosine_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    return S.cosine_topk(e, queries, k=3)


Q_ANN_COSINE_TOP3_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         round(CAST({_DUCK_COSINE} AS DOUBLE), 4) AS cosine_sim
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_ann_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen (ops/similarity.py: knn_label_agreement):
    fraction of each audit vector's top-3 cosine neighbors sharing its
    label — integer agreement counts over the exact brute-force
    neighbor sets."""
    e = _embs(spark, sf_dir)
    return S.knn_label_agreement(e, e.filter(F.col("vec_id") < 100), k=3)


Q_ANN_KNN_AGREEMENT_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS qlab
           FROM embeddings WHERE vec_id < 100),
     c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, label AS nlab
           FROM embeddings),
scored AS (
  SELECT q.query_id, q.qlab, a.neighbor_id, a.nlab,
         round(CAST({_DUCK_COSINE} AS DOUBLE), 4) AS cosine_sim
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS vec_id,
       CAST(qlab AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       CAST(SUM(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree
FROM ranked WHERE rank <= 3
GROUP BY 1, 2
"""


def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (ops/similarity.py:
    hard_negative_topk): per anchor, the 2 most similar vectors BELOW
    the duplicate threshold — near-dups are excluded BEFORE ranking so
    they can't become false negatives. The 0.2 threshold suits the
    near-orthogonal synthetic corpus (same convention as the semantic
    dedup gate)."""
    e = _embs(spark, sf_dir)
    return S.hard_negative_topk(
        e, e.filter(F.col("vec_id") < 10), k=2, dup_threshold=0.2
    )


Q_ANN_HARD_NEGATIVES_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         round(CAST({_DUCK_COSINE} AS DOUBLE), 4) AS cosine_sim
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine_sim < 0.2
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 2
"""


_LSH_TABLES = 4
_LSH_PLANES = 6


def _duck_plane_dot(g: int, vec: str) -> str:
    """DuckDB dot product against global hyperplane ``g`` — the same
    deterministic integer components as ops.similarity._plane_component."""
    return (
        f"list_reduce(list_transform({vec}, (v, j) -> CAST(v AS DOUBLE)"
        f" * (({g * 131} + (j - 1) * 37) % 19 - 9)), (s, v) -> s + v)"
    )


def _duck_banded_wb(vec_table: str = "embeddings") -> str:
    """UNION ALL of the banded LSH tables: (vec_id, embedding, band,
    bucket) — one row per (vector, LSH table), matching _lsh_bands."""
    parts = []
    for t in range(_LSH_TABLES):
        bucket_terms = " + ".join(
            f"(CASE WHEN {_duck_plane_dot(t * _LSH_PLANES + p, 'embedding')} > 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(_LSH_PLANES)
        )
        parts.append(
            f"SELECT vec_id, embedding, {t} AS band, ({bucket_terms}) AS bucket"
            f" FROM {vec_table}"
        )
    return " UNION ALL ".join(parts)


def q_ann_lsh_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    return S.lsh_topk(
        e, queries, k=3, num_tables=_LSH_TABLES, num_planes=_LSH_PLANES
    )


def _q_ann_lsh_top3_sql() -> str:
    return f"""
WITH wb AS ({_duck_banded_wb()}),
q AS (SELECT vec_id AS query_id, embedding AS q_vec, band, bucket FROM wb
      WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, band, bucket FROM wb),
scored AS (
  SELECT DISTINCT q.query_id, c.neighbor_id,
         round(CAST({_DUCK_COSINE.replace('a.c_vec', 'c.c_vec')} AS DOUBLE), 4)
           AS cosine_sim
  FROM c JOIN q USING (band, bucket)
  WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


_IVF_ITERS = 2


def q_ann_ivf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle replays training with sorted serial-fold means; the
    # streaming avg differs from them only in float summation order
    # (~1e-12 relative), which no centroid choice or rounded score sees
    e = _embs(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    return S.ivf_topk(
        e,
        queries,
        k=3,
        n_centroids=16,
        nprobe=2,
        train_iters=_IVF_ITERS,
    )


def _q_ann_ivf_top3_sql() -> str:
    """Replicates kmeans_fit(max_iter=2) + ivf_topk:
    each Lloyd's iteration is one CTE block (assign → per-dim sorted
    sequential-fold mean → re-collect ordered by dim)."""

    def cos(a_vec: str, b_vec: str) -> str:
        return _DUCK_COSINE.replace("a.c_vec", a_vec).replace("q.q_vec", b_vec)

    ctes = [
        """cent0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT 16
)"""
    ]
    for i in range(1, _IVF_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {prev} c
  ) WHERE r = 1
),
comp{i} AS (
  SELECT centroid_id, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM a{i}
),
pv{i} AS (
  SELECT centroid_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM comp{i} GROUP BY centroid_id, pos
),
cent{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS c_vec
  FROM pv{i} GROUP BY centroid_id
)"""
        )
    last = f"cent{_IVF_ITERS}"
    ctes.append(
        f"""c_assign AS (
  SELECT neighbor_id, n_vec, centroid_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS n_vec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {last} c
  ) WHERE r = 1
),
q_assign AS (
  SELECT query_id, q_vec, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q_vec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {last} c WHERE e.vec_id < 10
  ) WHERE r <= 2
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(CAST({cos('c.n_vec', 'q.q_vec')} AS DOUBLE), 4) AS cosine_sim
  FROM c_assign c JOIN q_assign q USING (centroid_id)
  WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_corpus_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling (ops/similarity.kmeans_fit +
    ops/sampling.balanced_sample_by_group): cluster the embeddings
    (Lloyd's, 8 centroids), then keep each
    vector with probability n_min/n_cluster decided by an integer
    salted-hash test — the topic-rebalancing mix that equalizes
    expected cluster sizes before training. Reports per cluster
    (centroid_id, n_members, n_kept)."""
    e = _embs(spark, sf_dir)
    cent = S.kmeans_fit(e, n_centroids=8, max_iter=_IVF_ITERS)
    assigned = (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "__sim", S.cosine_similarity(F.col("embedding"), F.col("c_vec"))
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("__sim"), -F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )
    flagged = SM.balanced_sample_by_group(
        assigned, "centroid_id", id_col="vec_id", salt="cbal"
    )
    return flagged.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )


def _q_corpus_cluster_balanced_sql() -> str:
    """kmeans_fit(8, 2 iters) replica (the ann_ivf CTE
    pattern) + the integer bucket·n < n_min·2^20 keep test."""

    def cos(a_vec: str, b_vec: str) -> str:
        return _DUCK_COSINE.replace("a.c_vec", a_vec).replace("q.q_vec", b_vec)

    ctes = [
        """cent0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT 8
)"""
    ]
    for i in range(1, _IVF_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {prev} c
  ) WHERE r = 1
),
comp{i} AS (
  SELECT centroid_id, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM a{i}
),
pv{i} AS (
  SELECT centroid_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM comp{i} GROUP BY centroid_id, pos
),
cent{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS c_vec
  FROM pv{i} GROUP BY centroid_id
)"""
        )
    last = f"cent{_IVF_ITERS}"
    ctes.append(
        f"""assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {last} c
  ) WHERE r = 1
),
counts AS (SELECT centroid_id, COUNT(*) AS n_group FROM assigned GROUP BY 1),
mn AS (SELECT MIN(n_group) AS n_min FROM counts),
flagged AS (
  SELECT a.centroid_id,
         ((('0x' || substr(md5('cbal' || '|' || CAST(a.vec_id AS VARCHAR)),
                           1, 15))::BIGINT % 1048576) * t.n_group
          < mn.n_min * 1048576) AS keep
  FROM assigned a JOIN counts t USING (centroid_id), mn
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM flagged GROUP BY 1
"""


_PQ_M = 4
_PQ_DSUB = 16  # 64 dims / 4 subspaces
_PQ_K = 16
_PQ_ITERS = 2


def q_ann_pq_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-3 (the memory-compressed ANN scale
    path): per-subspace L2 codebooks, corpus as 4 small codes per
    vector, asymmetric-distance scoring from a broadcast query
    distance table. The oracle replays training with serial-fold
    means."""
    e = _embs(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 5)
    return S.pq_topk(
        e,
        queries,
        k=3,
        m=_PQ_M,
        n_centroids=_PQ_K,
        dims=_PQ_M * _PQ_DSUB,
        train_iters=_PQ_ITERS,
    )


def _q_ann_pq_top3_sql() -> str:
    """Replicates pq_train + pq_encode + ADC scoring:
    subspaces are a generated dimension, each Lloyd's iteration one
    CTE block (L2 assign → per-dim sorted sequential-fold mean →
    re-collect), ranking on the ROUNDED score."""
    l2 = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (s, v) -> s + v)"
    )
    ctes = [
        f"subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sp)",
        f"""sv AS (
  SELECT e.vec_id, subs.sp,
         e.embedding[subs.sp*{_PQ_DSUB}+1 : subs.sp*{_PQ_DSUB}+{_PQ_DSUB}] AS sub
  FROM embeddings e, subs
)""",
        f"""cent0 AS (
  SELECT sp, vec_id AS centroid_id,
         list_transform(sub, v -> CAST(v AS DOUBLE)) AS c_vec
  FROM (SELECT *, row_number() OVER (PARTITION BY sp ORDER BY vec_id) AS rn
        FROM sv)
  WHERE rn <= {_PQ_K}
)""",
    ]
    assign = l2.format(a="c.c_vec", b="v.sub")
    for i in range(1, _PQ_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, sp, sub, centroid_id FROM (
    SELECT v.vec_id, v.sp, v.sub, c.centroid_id,
           row_number() OVER (PARTITION BY v.sp, v.vec_id
             ORDER BY {assign} ASC, c.centroid_id ASC) AS r
    FROM sv v JOIN {prev} c USING (sp)
  ) WHERE r = 1
),
comp{i} AS (
  SELECT sp, centroid_id, vec_id,
         generate_subscripts(sub, 1) AS pos,
         CAST(unnest(sub) AS DOUBLE) AS v
  FROM a{i}
),
pv{i} AS (
  SELECT sp, centroid_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM comp{i} GROUP BY 1, 2, 3
),
cent{i} AS (
  SELECT sp, centroid_id, list(m ORDER BY pos) AS c_vec
  FROM pv{i} GROUP BY 1, 2
)"""
        )
    last = f"cent{_PQ_ITERS}"
    ctes.append(
        f"""codes AS (
  SELECT vec_id, sp, centroid_id AS code FROM (
    SELECT v.vec_id, v.sp, c.centroid_id,
           row_number() OVER (PARTITION BY v.sp, v.vec_id
             ORDER BY {assign} ASC, c.centroid_id ASC) AS r
    FROM sv v JOIN {last} c USING (sp)
  ) WHERE r = 1
),
qd AS (
  SELECT v.vec_id AS query_id, v.sp, c.centroid_id, {assign} AS d2
  FROM sv v JOIN {last} c USING (sp)
  WHERE v.vec_id < 5
),
scored AS (
  SELECT qd.query_id, codes.vec_id AS neighbor_id,
         round(SUM(qd.d2), 4) AS adc_d2
  FROM codes JOIN qd ON codes.sp = qd.sp AND codes.code = qd.centroid_id
  WHERE codes.vec_id <> qd.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       adc_d2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


_IVFPQ_COARSE = 4
_IVFPQ_NPROBE = 2
_IVFPQ_K = 8


def q_ann_ivfpq_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS's production shape): L2 coarse lists + PQ
    codebooks trained on residuals + probed-list ADC scoring. The
    oracle again replays training with serial-fold means."""
    e = _embs(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 5)
    return S.ivfpq_topk(
        e,
        queries,
        k=3,
        n_coarse=_IVFPQ_COARSE,
        nprobe=_IVFPQ_NPROBE,
        m=_PQ_M,
        n_centroids=_IVFPQ_K,
        dims=_PQ_M * _PQ_DSUB,
        train_iters=_PQ_ITERS,
    )


def _q_ann_ivfpq_top3_sql() -> str:
    """Replicates ivfpq_topk: coarse Lloyd's on full
    vectors, residuals vs the winning list centroid, the PQ chain on
    residual subvectors (carrying list_id), and ADC restricted to each
    query's nprobe probed lists with per-list query residuals."""
    l2 = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (s, v) -> s + v)"
    )
    res = (
        "list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    )
    ctes = [
        f"""ccent0 AS (
  SELECT vec_id AS list_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS l_vec
  FROM embeddings ORDER BY vec_id LIMIT {_IVFPQ_COARSE}
)"""
    ]
    cassign = l2.format(a="c.l_vec", b="e.embedding")
    for i in range(1, _PQ_ITERS + 1):
        prev = f"ccent{i - 1}"
        ctes.append(
            f"""ca{i} AS (
  SELECT vec_id, embedding, list_id FROM (
    SELECT e.vec_id, e.embedding, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cassign} ASC, c.list_id ASC) AS r
    FROM embeddings e, {prev} c
  ) WHERE r = 1
),
ccomp{i} AS (
  SELECT list_id, vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM ca{i}
),
cpv{i} AS (
  SELECT list_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM ccomp{i} GROUP BY 1, 2
),
ccent{i} AS (
  SELECT list_id, list(m ORDER BY pos) AS l_vec FROM cpv{i} GROUP BY 1
)"""
        )
    clast = f"ccent{_PQ_ITERS}"
    ctes.append(
        f"""cassign AS (
  SELECT vec_id, list_id, l_vec, embedding FROM (
    SELECT e.vec_id, e.embedding, c.list_id, c.l_vec,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cassign} ASC, c.list_id ASC) AS r
    FROM embeddings e, {clast} c
  ) WHERE r = 1
),
cres AS (
  SELECT vec_id, list_id, {res.format(a='embedding', b='l_vec')} AS resv
  FROM cassign
),
subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sp),
sv AS (
  SELECT c.vec_id, c.list_id, subs.sp,
         c.resv[subs.sp*{_PQ_DSUB}+1 : subs.sp*{_PQ_DSUB}+{_PQ_DSUB}] AS sub
  FROM cres c, subs
),
cent0 AS (
  SELECT sp, vec_id AS centroid_id, sub AS c_vec
  FROM (SELECT *, row_number() OVER (PARTITION BY sp ORDER BY vec_id) AS rn
        FROM sv)
  WHERE rn <= {_IVFPQ_K}
)"""
    )
    passign = l2.format(a="c.c_vec", b="v.sub")
    for i in range(1, _PQ_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, sp, sub, centroid_id FROM (
    SELECT v.vec_id, v.sp, v.sub, c.centroid_id,
           row_number() OVER (PARTITION BY v.sp, v.vec_id
             ORDER BY {passign} ASC, c.centroid_id ASC) AS r
    FROM sv v JOIN {prev} c USING (sp)
  ) WHERE r = 1
),
comp{i} AS (
  SELECT sp, centroid_id, vec_id, generate_subscripts(sub, 1) AS pos,
         CAST(unnest(sub) AS DOUBLE) AS v
  FROM a{i}
),
pv{i} AS (
  SELECT sp, centroid_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM comp{i} GROUP BY 1, 2, 3
),
cent{i} AS (
  SELECT sp, centroid_id, list(m ORDER BY pos) AS c_vec
  FROM pv{i} GROUP BY 1, 2
)"""
        )
    plast = f"cent{_PQ_ITERS}"
    ctes.append(
        f"""codes AS (
  SELECT vec_id, list_id, sp, centroid_id AS code FROM (
    SELECT v.vec_id, v.list_id, v.sp, c.centroid_id,
           row_number() OVER (PARTITION BY v.sp, v.vec_id
             ORDER BY {passign} ASC, c.centroid_id ASC) AS r
    FROM sv v JOIN {plast} c USING (sp)
  ) WHERE r = 1
),
qprobe AS (
  SELECT vec_id AS query_id, list_id, l_vec, embedding FROM (
    SELECT e.vec_id, e.embedding, c.list_id, c.l_vec,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cassign} ASC, c.list_id ASC) AS r
    FROM embeddings e, {clast} c WHERE e.vec_id < 5
  ) WHERE r <= {_IVFPQ_NPROBE}
),
qres AS (
  SELECT query_id, list_id, {res.format(a='embedding', b='l_vec')} AS resv
  FROM qprobe
),
qsv AS (
  SELECT q.query_id, q.list_id, subs.sp,
         q.resv[subs.sp*{_PQ_DSUB}+1 : subs.sp*{_PQ_DSUB}+{_PQ_DSUB}] AS sub
  FROM qres q, subs
),
qd AS (
  SELECT v.query_id, v.list_id, v.sp, c.centroid_id,
         {passign.replace('v.sub', 'v.sub')} AS d2
  FROM qsv v JOIN {plast} c USING (sp)
),
scored AS (
  SELECT qd.query_id, codes.vec_id AS neighbor_id,
         round(SUM(qd.d2), 4) AS adc_d2
  FROM codes
  JOIN qd ON codes.list_id = qd.list_id AND codes.sp = qd.sp
         AND codes.code = qd.centroid_id
  WHERE codes.vec_id <> qd.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       adc_d2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic embeddings are near-orthogonal (max pairwise cosine
    # ~0.45), so the "near-dup" threshold is set low enough that the
    # bucket-join path actually produces rows to hash-check
    return S.embedding_dup_pairs(
        _embs(spark, sf_dir),
        threshold=0.2,
        num_tables=_LSH_TABLES,
        num_planes=_LSH_PLANES,
    )


def _q_embedding_dup_pairs_sql() -> str:
    cos = _DUCK_COSINE.replace("a.c_vec", "a.embedding").replace(
        "q.q_vec", "b.embedding"
    )
    return f"""
WITH wb AS ({_duck_banded_wb()})
SELECT DISTINCT CAST(a.vec_id AS BIGINT) AS id_a,
       CAST(b.vec_id AS BIGINT) AS id_b,
       round(CAST({cos} AS DOUBLE), 4) AS cosine_sim
FROM wb a JOIN wb b
  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(CAST({cos} AS DOUBLE), 4) >= 0.2
"""


def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-surprisal quality score (ops/text.py:unigram_surprisal)
    — integer-exact -log2 p via binary digit counts."""
    return X.unigram_surprisal(_docs(spark, sf_dir))


Q_TEXT_SURPRISAL_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS t
  FROM documents
),
tokf AS (SELECT doc_id, t FROM tok WHERE length(t) > 0),
freq AS (SELECT t, COUNT(*) AS c FROM tokf GROUP BY 1),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM freq)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(length(bin(total)) - length(bin(c))) AS BIGINT) AS sum_surprisal,
       CAST((1000 * SUM(length(bin(total)) - length(bin(c))))
            // COUNT(*) AS BIGINT) AS avg_surprisal_milli
FROM tokf JOIN freq USING (t) CROSS JOIN total
GROUP BY 1
"""


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (ops/text.py:
    perplexity_buckets): exact equal-count terciles of the integer
    unigram-surprisal score via distributed global rank — no
    percentile interpolation, deterministic ties by id."""
    return X.perplexity_buckets(_docs(spark, sf_dir), n_buckets=3)


Q_TEXT_CCNET_BUCKETS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS t
  FROM documents
),
tokf AS (SELECT doc_id, t FROM tok WHERE length(t) > 0),
freq AS (SELECT t, COUNT(*) AS c FROM tokf GROUP BY 1),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM freq),
scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST((1000 * SUM(length(bin(total)) - length(bin(c))))
              // COUNT(*) AS BIGINT) AS avg_surprisal_milli
  FROM tokf JOIN freq USING (t) CROSS JOIN total
  GROUP BY 1
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY avg_surprisal_milli, doc_id) AS gr,
         COUNT(*) OVER () AS n
  FROM scored
)
SELECT doc_id, n_tokens, avg_surprisal_milli,
       CAST((3 * (gr - 1)) // n AS INT) AS bucket_no,
       CASE (3 * (gr - 1)) // n WHEN 0 THEN 'head'
                                WHEN 1 THEN 'middle'
                                ELSE 'tail' END AS bucket
FROM ranked
"""


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by integer-exact lift (ops/text.py:
    collocations_by_lift): top-20 adjacent pairs by
    ``(1000·c2·N) div (c1(l)·c1(r))`` with support cut 5 — PMI's
    ranking without PMI's float log."""
    return X.collocations_by_lift(_docs(spark, sf_dir), min_count=5, top_k=20)


Q_TEXT_COLLOCATIONS_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
big AS (
  SELECT t[j] AS l, t[j + 1] AS r
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) js
),
uni AS (
  SELECT t2.tok, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS tok FROM toks) t2
  WHERE length(t2.tok) > 0 GROUP BY 1
),
total AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
c2 AS (SELECT l, r, COUNT(*) AS c2 FROM big GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT c2.l AS left, c2.r AS right,
       CAST(c2.c2 AS BIGINT) AS pair_count,
       CAST((1000 * c2.c2 * total.n) // (ul.c1 * ur.c1) AS BIGINT)
         AS lift_milli
FROM c2
JOIN uni ul ON ul.tok = c2.l
JOIN uni ur ON ur.tok = c2.r
CROSS JOIN total
ORDER BY lift_milli DESC, c2.l, c2.r
LIMIT 20
"""


def q_text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM scoring (ops/text.py: bigram_surprisal):
    integer-exact add-1-smoothed bigram surprisal per document — the
    sequence-aware rung of the perplexity-filter ladder."""
    out = X.bigram_surprisal(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("sum_surprisal").cast("long").alias("sum_surprisal"),
        F.col("avg_surprisal_milli").cast("long").alias("avg_surprisal_milli"),
    )


Q_TEXT_BIGRAM_SURPRISAL_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
big AS (
  SELECT doc_id, t[j] AS p, t[j + 1] AS w
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) js
),
c2 AS (SELECT p, w, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
c1 AS (SELECT p, COUNT(*) AS c1 FROM big GROUP BY 1),
v AS (
  SELECT COUNT(DISTINCT tk) AS v
  FROM (SELECT unnest(t) AS tk FROM toks) u WHERE length(tk) > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(length(bin(c1 + v)) - length(bin(c2 + 1))) AS BIGINT)
         AS sum_surprisal,
       CAST((1000 * SUM(length(bin(c1 + v)) - length(bin(c2 + 1))))
            // COUNT(*) AS BIGINT) AS avg_surprisal_milli
FROM big JOIN c2 USING (p, w) JOIN c1 USING (p) CROSS JOIN v
GROUP BY 1
"""


def q_ann_filtered_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN (search only rows passing a metadata predicate —
    the 'filtered vector search' every retrieval stack needs): the
    label predicate lands on the corpus BEFORE scoring, so Catalyst
    pushes it into the parquet scan (PushedFilters) and the candidate
    set shrinks at the source, not post-ranking."""
    e = _embs(spark, sf_dir)
    return S.cosine_topk(
        e.filter(F.col("label") % 2 == 0),
        e.filter(F.col("vec_id") < 5),
        k=3,
    )


def _q_ann_filtered_top3_sql() -> str:
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(CAST({_DUCK_COSINE.replace('a.c_vec', 'c.c_vec')} AS DOUBLE), 4) AS cosine_sim
  FROM (SELECT vec_id, embedding AS c_vec FROM embeddings
        WHERE label % 2 = 0) c
  CROSS JOIN (SELECT vec_id, embedding AS q_vec FROM embeddings
              WHERE vec_id < 5) q
  WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


_SEM_K = 8


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic pruning (ops/similarity.py:
    semantic_dedup): k-means clusters, within-cluster cosine pairs,
    drop the higher id of every pair over threshold. The 0.2
    threshold suits the near-orthogonal synthetic corpus."""
    return S.semantic_dedup(
        _embs(spark, sf_dir),
        n_clusters=_SEM_K,
        threshold=0.2,
        train_iters=_IVF_ITERS,
    )


def _q_semantic_dedup_sql() -> str:
    """kmeans replay (cosine assignment, sorted serial-fold means,
    LIMIT-{_SEM_K} init) + within-cluster pair pruning."""

    def cos(a_vec: str, b_vec: str) -> str:
        return _DUCK_COSINE.replace("a.c_vec", a_vec).replace("q.q_vec", b_vec)

    ctes = [
        f"""cent0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT {_SEM_K}
)"""
    ]
    for i in range(1, _IVF_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {prev} c
  ) WHERE r = 1
),
comp{i} AS (
  SELECT centroid_id, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM a{i}
),
pv{i} AS (
  SELECT centroid_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM comp{i} GROUP BY centroid_id, pos
),
cent{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS c_vec
  FROM pv{i} GROUP BY centroid_id
)"""
        )
    last = f"cent{_IVF_ITERS}"
    ctes.append(
        f"""assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {last} c
  ) WHERE r = 1
),
drops AS (
  SELECT DISTINCT b.vec_id AS drop_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(CAST({cos('a.embedding', 'b.embedding')} AS DOUBLE), 4) >= 0.2
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
       CAST(a.centroid_id AS BIGINT) AS centroid_id,
       a.vec_id NOT IN (SELECT drop_id FROM drops) AS kept
FROM assigned a
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing (ops/multimodal.py:
    extract_features_stub): Arrow-batched mapInPandas over binary
    payloads, integer md5-derived features so the DuckDB oracle can
    replay the exact computation from the source text."""
    payloads = M.attach_binary_payload(_docs(spark, sf_dir))
    return M.extract_features_stub(payloads, dim=4)


Q_MULTIMODAL_FEATURES_SQL = """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(j.j AS INT) AS dim_no,
       CAST(('0x' || substr(md5(d.text || '|' || CAST(j.j AS VARCHAR)), 1, 8))::BIGINT
            % 1000000 AS BIGINT) AS feat
FROM documents d, (SELECT unnest(generate_series(0, 3)) AS j) j
"""


def q_dedup_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal two-stage dedup (ops/dedup.py:
    embedding_verified_pairs): embedding-LSH candidates verified by
    exact unigram text Jaccard over the paired documents table. The
    synthetic corpus is near-orthogonal, so thresholds sit low enough
    that the full candidate→verify path produces rows to hash-check."""
    return D.embedding_verified_pairs(
        _docs(spark, sf_dir),
        _embs(spark, sf_dir),
        threshold=0.0,
        cosine_threshold=0.2,
        k=1,
        num_tables=_LSH_TABLES,
        num_planes=_LSH_PLANES,
    )


def _q_dedup_cross_modal_sql() -> str:
    cand = _q_embedding_dup_pairs_sql()
    return f"""
WITH cand AS ({cand}),
sh AS ({_duck_shingles_k(1)}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT m.id_a, m.id_b, c.cosine_sim,
       CAST(m.n_common AS BIGINT) AS n_common,
       CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common) AS jaccard
FROM common m
JOIN cand c ON c.id_a = m.id_a AND c.id_b = m.id_b
JOIN sizes sa ON sa.doc_id = m.id_a
JOIN sizes sb ON sb.doc_id = m.id_b
WHERE CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common) >= 0.0
"""


# ------------------------------------------------------------ sampling suite


def q_corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: per-split document count
    and token volume (split_by_hash is a pure row function, so any
    engine reproduces it)."""
    split = SM.split_by_hash(
        _docs(spark, sf_dir), {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    n_tokens = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).cast("long").alias("total_tokens"),
    )


def _q_corpus_split_counts_sql() -> str:
    bucket = (
        "(('0x' || substr(md5('split' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    ntok = (
        "CASE WHEN length(trim(text)) = 0 THEN 0"
        f" ELSE len({_DUCK_TOKS}) END"
    )
    return f"""
SELECT CASE WHEN {bucket} < 9000 THEN 'train'
            WHEN {bucket} < 9500 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM({ntok}) AS BIGINT) AS total_tokens
FROM documents GROUP BY 1
"""


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SM.pack_documents(_docs(spark, sf_dir), max_tokens=512, num_shards=8)


def _q_pack_documents_sql() -> str:
    ntok = (
        "CASE WHEN length(trim(text)) = 0 THEN 0"
        f" ELSE len({_DUCK_TOKS}) END"
    )
    shard = (
        "CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8)"
        " AS INT)"
    )
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {shard} AS shard,
         CAST({ntok} AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS bin_offset
  FROM base
)
SELECT doc_id, shard, n_tokens,
       CAST(bin_offset // 512 AS BIGINT) AS bin,
       CAST(bin_offset AS BIGINT) AS bin_offset
FROM packed
"""


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SM.packing_stats(_docs(spark, sf_dir), max_tokens=512, num_shards=8)


def _q_packing_stats_sql() -> str:
    return f"""
WITH packed AS ({_q_pack_documents_sql()})
SELECT shard, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(SUM(n_tokens) / 512.0, 4) AS fill_ratio
FROM packed GROUP BY 1, 2
"""


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting: down-weight src0 to 50%, drop src1, keep 80%
    of everything else — per-source surviving counts."""
    mixed = SM.subsample_by_source(
        _docs(spark, sf_dir), {"src0": 0.5, "src1": 0.0}, default_rate=0.8
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def _q_corpus_mixture_sql() -> str:
    bucket = (
        "(('0x' || substr(md5('mix' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    return f"""
SELECT source, COUNT(*) AS n_docs
FROM documents
WHERE {bucket} < (CASE WHEN source = 'src0' THEN 5000
                       WHEN source = 'src1' THEN 0
                       ELSE 8000 END)
GROUP BY 1
"""


def q_corpus_resampled_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up-sampling mixture (ops/sampling.py: resample_by_source):
    rates above 1.0 repeat rows — epoch repetition for rare sources in
    a temperature-balanced mix. src0 is 2.5×-repeated, src1 keeps 40 %
    (bit-identical to the down-sampling operator at rates ≤ 1),
    everything else rides at 1.0."""
    out = SM.resample_by_source(
        _docs(spark, sf_dir), {"src0": 2.5, "src1": 0.4}
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max("copy_no").cast("long").alias("max_copy_no"),
    )


def _q_corpus_resampled_mix_sql() -> str:
    bucket = (
        "(('0x' || substr(md5('mix' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    return f"""
WITH r AS (
  SELECT doc_id, source, {bucket} AS b,
         CASE WHEN source = 'src0' THEN 2.5
              WHEN source = 'src1' THEN 0.4
              ELSE 1.0 END AS rate
  FROM documents
),
c AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS BIGINT)
           + CASE WHEN b < CAST(round((rate - floor(rate))
                                      * {SM.SPLIT_BUCKETS}) AS BIGINT)
                  THEN 1 ELSE 0 END AS n
  FROM r
),
e AS (
  SELECT doc_id, source,
         unnest(generate_series(0, CAST(n AS INT) - 1)) AS copy_no
  FROM c WHERE n > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MAX(copy_no) AS BIGINT) AS max_copy_no
FROM e GROUP BY 1
"""


def _pii_inject_spark() -> list:
    # Built lazily: F.col() needs an active SparkContext, so a
    # module-level list would make the import require a session.
    return [
        F.col("text"),
        F.lit(" email user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com note call +1 (555) 010-0199 now ip 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".7 end"),
    ]

_PII_INJECT_DUCK = (
    "text || ' email user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com note call +1 (555) 010-0199 now ip 10.0.'"
    " || CAST(doc_id % 200 AS VARCHAR) || '.7 end'"
)


def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministically injected
    email/phone/ipv4 strings (the synthetic corpus contains none, so
    the injection makes the gate actually exercise the matchers)."""
    docs = _docs(spark, sf_dir).withColumn("text", F.concat(*_pii_inject_spark()))
    return X.scrub_pii(docs)


def _q_text_scrub_pii_sql() -> str:
    scrub = "text"
    counts = []
    for kind, pat in X.PII_PATTERNS:  # same scrub order as scrub_pii
        scrub = f"regexp_replace({scrub}, '{pat}', '<{kind.upper()}>', 'g')"
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{kind}"
        )
    return f"""
WITH enriched AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_PII_INJECT_DUCK} AS text
  FROM documents
)
SELECT doc_id, {scrub} AS text_scrubbed,
       {', '.join(counts)}
FROM enriched
"""


# ----------------------------------------------------------- multimodal suite


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (ops/multimodal.sample_frames_stub):
    one row per 64-byte payload slice with its frame index and byte
    length. The oracle verifies the slice boundaries byte-exactly
    from octet_length (this DuckDB build has no BLOB substring);
    slice CONTENT equality is covered by the pytest unit test."""
    payloads = M.attach_binary_payload(_docs(spark, sf_dir))
    frames = M.sample_frames_stub(payloads, every_n_bytes=64)
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.length(F.col("frame_payload")).cast("int").alias("n_bytes"),
    )


Q_MULTIMODAL_FRAME_SAMPLE_SQL = """
WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(g AS INT) AS frame_no,
       CAST(least(64, n - g*64) AS INT) AS n_bytes
FROM p, unnest(generate_series(0, greatest((n - 1) // 64, 0))) t(g)
"""


def q_multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real mapInPandas plumbing with a deterministic stub decoder —
    the oracle recomputes the same metadata relationally."""
    docs = _docs(spark, sf_dir)
    payloads = M.attach_binary_payload(docs)
    return M.decode_image_metadata(payloads)


Q_MULTIMODAL_DECODE_META_SQL = """
WITH p AS (SELECT doc_id, encode(text) AS payload FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(payload) AS INT) AS n_bytes,
       CAST(octet_length(payload) % 640 + 1 AS INT) AS width,
       CAST(octet_length(payload) % 480 + 1 AS INT) AS height,
       3 AS channels,
       CAST((CAST(octet_length(payload) AS BIGINT) * 2654435761) % 256
            AS DOUBLE) AS mean_intensity
FROM p
"""


# ------------------------------------------------- composed curation pipeline


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline composed end-to-end: quality filter
    (text_stats) → exact dedup (keep the canonical doc per content
    hash) → per-language corpus rollup. Demonstrates that the ops are
    DataFrame-in/DataFrame-out composable; Catalyst plans the whole
    chain as one job."""
    docs = _docs(spark, sf_dir)
    stats = X.text_stats(docs)
    good = stats.filter(
        (F.col("quality_score") > 0.1) & (F.col("n_tokens") >= 5)
    ).select("doc_id", "n_tokens", "quality_score")
    canon = (
        D.dedup_exact(docs)
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    lang = X.language_id(docs).select("doc_id", "predicted_lang")
    kept = good.join(canon, "doc_id").join(lang, "doc_id")
    return kept.groupBy("predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
    )


def _q_corpus_curation_sql() -> str:
    langid = _q_text_langid_sql()
    return f"""
WITH stats AS ({Q_TEXT_STATS_SQL}),
good AS (
  SELECT doc_id, n_tokens, quality_score FROM stats
  WHERE quality_score > 0.1 AND n_tokens >= 5
),
canon AS (
  SELECT DISTINCT MIN(doc_id) AS doc_id
  FROM documents GROUP BY md5(lower(trim(text)))
),
lang AS (SELECT doc_id, predicted_lang FROM ({langid}))
SELECT predicted_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(AVG(quality_score), 4) AS avg_quality
FROM good JOIN canon USING (doc_id) JOIN lang USING (doc_id)
GROUP BY 1
"""


def q_corpus_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data assembly pipeline composed end-to-end:
    quality filter → exact-dedup canonicals → source mixture
    weighting → train split → context-window packing → per-split
    packing summary. One lazy DataFrame chain; Catalyst plans it as a
    single job graph."""
    docs = _docs(spark, sf_dir)
    stats = X.text_stats(docs)
    good = stats.filter(
        (F.col("quality_score") > 0.05) & (F.col("n_tokens") >= 5)
    ).select("doc_id")
    canon = (
        D.dedup_exact(docs)
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    kept = docs.join(good, "doc_id").join(canon, "doc_id")
    mixed = SM.subsample_by_source(kept, {"src0": 0.5, "src1": 0.0}, 0.8)
    train = SM.split_by_hash(
        mixed, {"train": 0.9, "val": 0.05, "test": 0.05}
    ).filter(F.col("split") == "train")
    packed = SM.pack_documents(train, max_tokens=512, num_shards=4)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("bin") + 1).cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def _q_corpus_training_mix_sql() -> str:
    mix_bucket = (
        "(('0x' || substr(md5('mix' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    split_bucket = (
        "(('0x' || substr(md5('split' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    shard = (
        "CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4)"
        " AS INT)"
    )
    ntok = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_DUCK_TOKS}) END"
    return f"""
WITH stats AS ({Q_TEXT_STATS_SQL}),
good AS (SELECT doc_id FROM stats
         WHERE quality_score > 0.05 AND n_tokens >= 5),
canon AS (SELECT DISTINCT MIN(doc_id) AS doc_id
          FROM documents GROUP BY md5(lower(trim(text)))),
kept AS (
  SELECT d.doc_id, d.text, d.source FROM documents d
  JOIN good USING (doc_id) JOIN canon USING (doc_id)
),
mixed AS (
  SELECT * FROM kept
  WHERE {mix_bucket} < (CASE WHEN source = 'src0' THEN 5000
                             WHEN source = 'src1' THEN 0
                             ELSE 8000 END)
),
train AS (SELECT * FROM mixed WHERE {split_bucket} < 9000),
base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {shard} AS shard,
         CAST({ntok} AS BIGINT) AS n_tokens
  FROM train
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
           // 512 AS bin
  FROM base
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM packed GROUP BY 1
"""


# ------------------------------------------------- dedup resolution suite


def q_dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs resolved into duplicate clusters via
    connected components (min-label propagation): one row per cluster
    with its canonical id, size, and max member."""
    pairs = D.minhash_lsh_pairs(_docs(spark, sf_dir), min_est_jaccard=0.25)
    return D.duplicate_cluster_stats(pairs)


def _q_dedup_cluster_resolve_sql() -> str:
    # transitive closure as a recursive CTE over the same LSH pair
    # query the dedup_minhash_lsh_pairs gate verifies
    return f"""
WITH RECURSIVE pairs AS ({_q_dedup_minhash_lsh_sql()}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
SELECT CAST(component AS BIGINT) AS component, COUNT(*) AS n_members,
       CAST(MAX(node) AS BIGINT) AS max_member
FROM comp GROUP BY 1
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup (ops/dedup.keep_best_per_cluster): resolve
    the MinHash-LSH near-duplicate clusters and keep the longest
    member of each (ties → smallest doc_id) — argmax via a
    partial-aggregating struct-max, no window sort."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, min_est_jaccard=0.25)
    kept = D.keep_best_per_cluster(pairs, docs, "n_chars")
    return kept.select(
        F.col("component").cast("long").alias("component"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("kept_id").cast("long").alias("kept_id"),
        F.col("kept_quality").cast("long").alias("kept_quality"),
    )


def _q_dedup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_q_dedup_minhash_lsh_sql()}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
m AS (SELECT comp.component, comp.node, d.n_chars
      FROM comp JOIN documents d ON d.doc_id = comp.node),
r AS (SELECT component, node, n_chars,
             COUNT(*) OVER (PARTITION BY component) AS n_members,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, node ASC) AS rn
      FROM m)
SELECT CAST(component AS BIGINT) AS component,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(node AS BIGINT) AS kept_id,
       CAST(n_chars AS BIGINT) AS kept_quality
FROM r WHERE rn = 1
"""


def _duck_shingles_k(k: int, where: str = "") -> str:
    cat = ", ".join(f"toks[i+{j}]" for j in range(k))
    return f"""SELECT DISTINCT doc_id, concat_ws(' ', {cat}) AS shingle
FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents {where}) t,
     unnest(generate_series(1, greatest(len(toks) - {k - 1}, 0))) AS u(i)"""


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: src0 plays the held-out eval set;
    training docs (everything else) sharing ≥1 5-token shingle with it
    are flagged with their overlap count."""
    docs = _docs(spark, sf_dir)
    return D.decontaminate_flags(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        k=5,
    )


def _q_corpus_decontaminate_sql() -> str:
    return f"""
WITH tr AS ({_duck_shingles_k(5, "WHERE source <> 'src0'")}),
ev AS (SELECT DISTINCT shingle FROM ({_duck_shingles_k(5, "WHERE source = 'src0'")}))
SELECT CAST(tr.doc_id AS BIGINT) AS doc_id, COUNT(*) AS n_shared_shingles
FROM tr JOIN ev USING (shingle) GROUP BY 1
"""


def q_text_vocab_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.vocab_topk(_docs(spark, sf_dir), k=50)


Q_TEXT_VOCAB_TOP50_SQL = f"""
WITH t AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS token
           FROM documents WHERE len(trim(text)) > 0)
SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
FROM t GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 50
"""


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by smoothed tf-idf
    (ops/text.tfidf_topk): score rounded to 4 decimals before the
    rank so the cut is engine-reproducible, ties on token text."""
    return X.tfidf_topk(_docs(spark, sf_dir), k=3)


Q_TEXT_TFIDF_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS token
  FROM documents WHERE len(trim(text)) > 0
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT doc_id, token, tf, doc_freq,
         round(tf * (ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0), 4)
           AS score
  FROM tf JOIN dfq USING (token) CROSS JOIN n
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token ASC) AS rn
  FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
       CAST(tf AS BIGINT) AS tf, CAST(doc_freq AS BIGINT) AS doc_freq,
       score
FROM r WHERE rn <= 3
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.repetition_stats(_docs(spark, sf_dir))


Q_TEXT_REPETITION_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id, concat_ws(' ', toks[i], toks[i+1]) AS gram
  FROM base, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)
),
per_gram AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
per_doc AS (SELECT doc_id, SUM(c) AS n_2grams, MAX(c) AS top,
                   SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
            FROM per_gram GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(n_2grams, 0) AS BIGINT) AS n_2grams,
       COALESCE(CAST(top AS DOUBLE) / n_2grams, 0.0) AS top_2gram_frac,
       COALESCE(CAST(dup AS DOUBLE) / n_2grams, 0.0) AS dup_2gram_frac
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SM.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
        "source",
        20,
    )


Q_CORPUS_STRATIFIED_SAMPLE_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY source
  ORDER BY (('0x' || substr(md5('strat' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) ASC,
           doc_id ASC
) <= 20
"""


def q_corpus_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SM.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


Q_CORPUS_CHUNKED_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
nn AS (SELECT doc_id, toks,
              CASE WHEN len(array_to_string(toks, '')) = 0 THEN 0
                   ELSE len(toks) END AS n
       FROM base),
st AS (SELECT doc_id, toks, n, u.i AS start_i
       FROM nn, unnest(generate_series(1, n, 24)) AS u(i))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST((start_i - 1) // 24 AS INT) AS chunk_no,
       array_to_string(list_slice(toks, start_i, start_i + 31), ' ') AS chunk_text,
       CAST(least(32, n - start_i + 1) AS INT) AS n_tokens
FROM st
"""


def q_rag_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG corpus preparation end-to-end as one Catalyst chain:
    chunk documents (32-token windows, 8 overlap — the shuffle-free
    flatMap), attach a deterministic hash embedding per chunk (md5-
    derived, the honest stand-in for the env-blocked encoder — same
    convention as the multimodal feature stub), and retrieve the top-3
    nearest chunks for the first three chunk probes by exact cosine.
    Chunking, embedding, and retrieval plan as ONE query."""
    from ukis_h3cellstore_spark.ops import sampling as _SM2

    chunks = _SM2.chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, overlap=8
    )
    dims = [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("chunk_text"), F.lit("|"), F.lit(str(d))
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000
        ).cast("double")
        / 1000.0
        for d in range(4)
    ]
    emb = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_no")).alias("vec_id"),
        F.array(*dims).alias("embedding"),
    )
    probes = emb.filter(F.col("vec_id") < 3)
    return S.cosine_topk(emb, probes, k=3)


Q_RAG_PREP_PIPELINE_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
nn AS (SELECT doc_id, toks,
              CASE WHEN len(array_to_string(toks, '')) = 0 THEN 0
                   ELSE len(toks) END AS n
       FROM base),
st AS (SELECT doc_id, toks, n, u.i AS start_i
       FROM nn, unnest(generate_series(1, n, 24)) AS u(i)),
chunks AS (
  SELECT doc_id * 1000 + (start_i - 1) // 24 AS vec_id,
         array_to_string(list_slice(toks, start_i, start_i + 31), ' ')
           AS chunk_text
  FROM st
),
emb AS (
  SELECT vec_id,
         [CAST(('0x' || substr(md5(chunk_text || '|0'), 1, 8))::BIGINT % 1000
               AS DOUBLE) / 1000.0,
          CAST(('0x' || substr(md5(chunk_text || '|1'), 1, 8))::BIGINT % 1000
               AS DOUBLE) / 1000.0,
          CAST(('0x' || substr(md5(chunk_text || '|2'), 1, 8))::BIGINT % 1000
               AS DOUBLE) / 1000.0,
          CAST(('0x' || substr(md5(chunk_text || '|3'), 1, 8))::BIGINT % 1000
               AS DOUBLE) / 1000.0] AS embedding
  FROM chunks
),
q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM emb
      WHERE vec_id < 3),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM emb),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         round(CAST({_DUCK_COSINE} AS DOUBLE), 4) AS cosine_sim
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText quality rule set per document (ops/text.
    gopher_quality_flags) — rule measurements + combined verdict, all
    whole-stage-codegen array expressions."""
    return X.gopher_quality_flags(_docs(spark, sf_dir))


Q_TEXT_GOPHER_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter({_DUCK_TOKS}, w -> len(w) > 0) AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         round(list_sum(list_transform(words, w -> len(w)))
               / CAST(NULLIF(len(words), 0) AS DOUBLE), 6) AS mean_word_len,
         round(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) // 3)
               / CAST(NULLIF(len(words), 0) AS DOUBLE), 6) AS symbol_word_ratio,
         round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\\-\\*]')))
               / CAST(len(lines) AS DOUBLE), 6) AS bullet_line_frac,
         round(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
               / CAST(len(lines) AS DOUBLE), 6) AS ellipsis_line_frac,
         round(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
               / CAST(NULLIF(len(words), 0) AS DOUBLE), 6) AS alpha_word_frac,
         CAST(len(list_distinct(list_filter(list_transform(words, w -> lower(w)),
              w -> w IN ('the','be','to','of','and','that','have','with'))))
              AS INT) AS stopword_hits
  FROM base
)
SELECT *,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND stopword_hits >= 2) AS gopher_pass
FROM m
"""


def q_corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: document count, token volume,
    Gopher pass rate, and exact median token count — the periodic
    dashboard query a curation pipeline runs per crawl source. One
    join of two agg branches over the same scan; the exact median uses
    ``percentile`` (interpolating, matching DuckDB's quantile_cont)."""
    docs = _docs(spark, sf_dir)
    g = X.gopher_quality_flags(docs).select("doc_id", "n_words", "gopher_pass")
    src = docs.select("doc_id", "source")
    joined = src.join(g, on="doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.round(F.avg(F.col("gopher_pass").cast("int")), 6).alias("pass_rate"),
        F.round(F.expr("percentile(n_words, 0.5)"), 6).alias("median_words"),
    )


def _q_corpus_source_report_sql() -> str:
    return f"""
WITH g AS ({Q_TEXT_GOPHER_SQL})
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(g.n_words) AS BIGINT) AS total_words,
       round(AVG(CASE WHEN g.gopher_pass THEN 1 ELSE 0 END), 6) AS pass_rate,
       round(quantile_cont(g.n_words, 0.5), 6) AS median_words
FROM documents d JOIN g ON d.doc_id = g.doc_id
GROUP BY 1
"""


def q_corpus_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-percentile trim (quality filtering): docs
    outside the [p05, p95] n_chars band of their language are dropped;
    report = per-language survivors. Cutoffs via the partial-aggregable
    exact ``percentile`` (one tiny agg, broadcast back) — NOT a window
    sort over the corpus."""
    kept = X.length_percentile_filter(_docs(spark, sf_dir))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars_kept"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


Q_CORPUS_LENGTH_FILTER_SQL = """
WITH cuts AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS lo_cut,
               quantile_cont(n_chars, 0.95) AS hi_cut
  FROM documents GROUP BY 1
)
SELECT d.lang, COUNT(*) AS n_kept,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars_kept,
       MIN(d.n_chars) AS min_chars,
       MAX(d.n_chars) AS max_chars
FROM documents d JOIN cuts c ON d.lang = c.lang
WHERE CAST(d.n_chars AS DOUBLE) BETWEEN c.lo_cut AND c.hi_cut
GROUP BY 1
"""


def q_corpus_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus's own
    top-50 vocabulary — explode → broadcast vocab join → one agg."""
    return X.vocab_oov_report(_docs(spark, sf_dir), k=50)


Q_CORPUS_OOV_SQL = f"""
WITH t AS (SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS token
           FROM documents WHERE len(trim(text)) > 0),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS freq FROM t GROUP BY 1
    ORDER BY freq DESC, token ASC LIMIT 50
  )
)
SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS total_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       round(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS oov_rate
FROM t LEFT JOIN vocab v USING (token)
GROUP BY 1
"""


def q_corpus_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-document report between source pairs, keyed on the
    80-char prefix fingerprint (boilerplate/mirror detection — the
    synthetic corpus has no EXACT cross-source dups, but prefixes
    collide, which is exactly what this heuristic is for)."""
    return X.cross_source_duplicates(
        _docs(spark, sf_dir), key=F.md5(F.substring(F.col("text"), 1, 80))
    )


Q_CORPUS_CROSS_SOURCE_SQL = """
WITH hs AS (SELECT DISTINCT md5(substr(text, 1, 80)) AS h, source AS s
            FROM documents)
SELECT a.s AS source_a, b.s AS source_b, COUNT(*) AS n_shared
FROM hs a JOIN hs b ON a.h = b.h AND a.s < b.s
GROUP BY 1, 2
"""


#: deterministic 70/20/10 source skew — the synthetic corpus's sources
#: are perfectly uniform (25 docs each at sf0.01), which would make a
#: temperature gate trivially keep everything
_SKEW_SPARK = (
    "CASE WHEN doc_id % 10 < 7 THEN 'heavy' "
    "WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'light' END"
)


def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixture at τ=0.5 over a deterministically
    skewed source column (70/20/10): the heavy source is squeezed
    toward uniform, per-source surviving counts prove the rates."""
    docs = _docs(spark, sf_dir).withColumn("mix_source", F.expr(_SKEW_SPARK))
    mixed = SM.temperature_mixture(docs, tau=0.5, source_col="mix_source")
    return mixed.groupBy("mix_source").agg(F.count(F.lit(1)).alias("n_docs"))


def _q_corpus_temperature_mix_sql() -> str:
    bucket = (
        "(('0x' || substr(md5('temp' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    # mirrors temperature_rates(tau=0.5): share = c^0.5, raw = share/z/c,
    # rate = raw/max(raw), threshold = round(rate * SPLIT_BUCKETS)
    return f"""
WITH d AS (SELECT doc_id, {_SKEW_SPARK} AS mix_source FROM documents),
counts AS (SELECT mix_source, CAST(COUNT(*) AS DOUBLE) AS c
           FROM d GROUP BY 1),
z AS (SELECT SUM(POWER(c, 0.5)) AS z FROM counts),
raw AS (SELECT mix_source, POWER(c, 0.5) / (SELECT z FROM z) / c AS r
        FROM counts),
mx AS (SELECT MAX(r) AS m FROM raw),
th AS (SELECT mix_source,
              CAST(round(r / (SELECT m FROM mx) * {SM.SPLIT_BUCKETS}) AS BIGINT)
                AS t
       FROM raw)
SELECT d.mix_source, COUNT(*) AS n_docs
FROM d JOIN th USING (mix_source)
WHERE {bucket} < th.t
GROUP BY 1
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-subset pairs: |A∩B|/|A| over 3-gram shingles —
    the excerpt/quote-leakage detector Jaccard misses."""
    return D.containment_pairs(_docs(spark, sf_dir), threshold=0.5)


Q_DEDUP_CONTAINMENT_SQL = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
  WHERE len(trim(text)) > 0
),
sh AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM base, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT i.id_a, i.id_b, i.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id
               JOIN sizes sb ON i.id_b = sb.doc_id
)
SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_sub,
       CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_super,
       n_common,
       CAST(n_common AS DOUBLE) / least(n_a, n_b) AS containment
FROM sized
WHERE CAST(n_common AS DOUBLE) / least(n_a, n_b) >= 0.5
"""


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (ops/dedup.py:
    substring_span_pairs): the Lee et al. 2021 verbatim-run shape —
    positional k-gram inverted index, diagonal chaining via the
    shuffle-free sorted fold, longest shared token run per pair."""
    # spread (paired A/B 1.56 vs 1.69 s): the k-gram explode hangs
    # directly off the scan
    out = D.substring_span_pairs(_docs(spark, sf_dir, spread=True), k=5, min_span=8)
    return out.select(
        "id_a",
        "id_b",
        F.col("max_span_tokens").cast("long").alias("max_span_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


Q_DEDUP_SUBSTRING_SPANS_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
pos AS (SELECT doc_id, generate_subscripts(t, 1) AS i, t FROM toks),
g AS (SELECT doc_id, i, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
      FROM pos WHERE i + 4 <= len(t)),
m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i - b.i AS diag, a.i AS pa
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
isl AS (SELECT id_a, id_b, diag, pa,
               pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                       ORDER BY pa) AS grp
        FROM m),
runs AS (SELECT id_a, id_b, diag, COUNT(*) + 4 AS span
         FROM isl GROUP BY id_a, id_b, diag, grp),
dspan AS (SELECT id_a, id_b, diag, MAX(span) AS span
          FROM runs GROUP BY 1, 2, 3)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(MAX(span) AS BIGINT) AS max_span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM dspan WHERE span >= 8 GROUP BY 1, 2
"""


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup with reassembly (ops/dedup.py:
    segment_dedup — the C4/CCNet line-dedup stage). The synthetic
    corpus has no newlines, so the gate first renders each document as
    8-token lines (both engines replay the same chunking), then keeps
    only the globally first occurrence of every line and rebuilds the
    documents."""
    docs = _docs(spark, sf_dir)
    toks_df = docs.select("doc_id", X.tokens("text").alias("__toks"))
    n = F.size(F.col("__toks"))
    lines = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(8.0)).cast("int") - 1),
        lambda j: F.concat_ws(
            " ", F.slice(F.col("__toks"), j * 8 + 1, 8)
        ),
    )
    lined = toks_df.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    out = D.segment_dedup(lined)
    return out.select(
        "doc_id",
        "text_clean",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


Q_DEDUP_SEGMENTS_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
lines AS (
  SELECT doc_id, j,
         array_to_string(list_slice(t, j * 8 + 1, j * 8 + 8), ' ') AS seg
  FROM toks,
       LATERAL (SELECT unnest(generate_series(
                  0, CAST(ceil(len(t) / 8.0) AS INT) - 1)) AS j) js
),
ranked AS (
  SELECT doc_id, j, seg,
         row_number() OVER (PARTITION BY lower(trim(seg))
                            ORDER BY doc_id, j) AS rn
  FROM lines WHERE trim(seg) <> ''
)
SELECT doc_id,
       COALESCE(string_agg(seg, chr(10) ORDER BY j)
                  FILTER (WHERE rn = 1), '') AS text_clean,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept
FROM ranked GROUP BY doc_id
"""


def q_dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL (ops/dedup.py: excise_shared_spans):
    every shared run ≥ min_span is cut from the higher-id document —
    the Lee et al. 2021 dedup action, not just the report. Every doc
    comes back (text_clean, n_tokens, n_cut)."""
    return D.excise_shared_spans(_docs(spark, sf_dir), k=5, min_span=8)


Q_DEDUP_SPAN_EXCISE_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
pos AS (SELECT doc_id, generate_subscripts(t, 1) AS i, t FROM toks),
g AS (SELECT doc_id, i, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
      FROM pos WHERE i + 4 <= len(t)),
m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i - b.i AS diag, a.i AS pa
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
isl AS (SELECT id_a, id_b, diag, pa,
               pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                       ORDER BY pa) AS grp
        FROM m),
runs AS (SELECT id_a, id_b, diag, grp, COUNT(*) AS cnt,
                MIN(pa) AS pstart, MAX(pa) AS pend
         FROM isl GROUP BY 1, 2, 3, 4),
drun AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b, diag
                                      ORDER BY cnt DESC, pstart ASC) AS rn
         FROM runs),
cuts AS (SELECT id_b AS doc_id, pstart - diag AS b_start,
                pend + 4 - diag AS b_end
         FROM drun WHERE rn = 1 AND cnt + 4 >= 8),
tok_rows AS (SELECT doc_id, i AS p, t[i] AS w FROM pos),
marked AS (
  SELECT tr.doc_id, tr.p, tr.w,
         EXISTS (SELECT 1 FROM cuts c
                 WHERE c.doc_id = tr.doc_id
                   AND tr.p BETWEEN c.b_start AND c.b_end) AS cut
  FROM tok_rows tr
)
SELECT doc_id,
       COALESCE(string_agg(w, ' ' ORDER BY p) FILTER (WHERE NOT cut), '')
         AS text_clean,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE cut) AS BIGINT) AS n_cut
FROM marked GROUP BY doc_id
"""


def q_text_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page-cleaning recipe (ops/text.py: c4_quality_filter). The
    synthetic corpus has no lines or punctuation, so the gate renders
    each document as 8-token lines with a terminal period on
    even-indexed lines (both engines replay the same rendering) —
    exercising the terminal-punctuation and min-words line rules and
    the sentence-count page rule on real data shapes."""
    docs = _docs(spark, sf_dir)
    toks_df = docs.select("doc_id", X.tokens("text").alias("__toks"))
    n = F.size(F.col("__toks"))
    lines = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(8.0)).cast("int") - 1),
        lambda j: F.concat(
            F.concat_ws(" ", F.slice(F.col("__toks"), j * 8 + 1, 8)),
            F.when(j % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    lined = toks_df.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return X.c4_quality_filter(lined).select(
        "doc_id",
        "text_clean",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_lorem_ipsum",
        "has_curly_brace",
        "c4_pass",
    )


Q_TEXT_C4_FILTER_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
lines AS (
  SELECT doc_id, j,
         array_to_string(list_slice(t, j * 8 + 1, j * 8 + 8), ' ')
           || CASE WHEN j % 2 = 0 THEN '.' ELSE '' END AS line
  FROM toks,
       LATERAL (SELECT unnest(generate_series(
                  0, CAST(ceil(len(t) / 8.0) AS INT) - 1)) AS j) js
),
judged AS (
  SELECT doc_id, j, line,
         regexp_matches(trim(line), '[.!?"]$')
           AND len(list_filter(regexp_split_to_array(trim(line), '\\s+'),
                               w -> len(w) > 0)) >= 5
           AND NOT regexp_matches(line,
                 '\\b(javascript|cookie|cookies|privacy policy|terms of use)\\b',
                 'i') AS ok
  FROM lines
),
pages AS (
  SELECT doc_id,
         COALESCE(string_agg(line, chr(10) ORDER BY j)
                    FILTER (WHERE ok), '') AS text_clean,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(COUNT(*) FILTER (WHERE ok) AS BIGINT) AS n_kept_lines,
         bool_or(contains(lower(line), 'lorem ipsum')) AS has_lorem_ipsum,
         bool_or(contains(line, '{{')) AS has_curly_brace
  FROM judged GROUP BY doc_id
)
SELECT doc_id, text_clean, n_lines, n_kept_lines,
       CAST(len(list_filter(regexp_split_to_array(text_clean, '[.!?]'),
                            s -> len(trim(s)) > 0)) AS BIGINT) AS n_sentences,
       has_lorem_ipsum, has_curly_brace,
       len(list_filter(regexp_split_to_array(text_clean, '[.!?]'),
                       s -> len(trim(s)) > 0)) >= 3
         AND NOT has_lorem_ipsum AND NOT has_curly_brace AS c4_pass
FROM pages
"""


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequencies (ops/text.py: bpe_pair_counts)
    — the per-round statistic of BPE tokenizer training, one zip_with
    + one partial-agg count, top-50 via TakeOrderedAndProject."""
    out = X.bpe_pair_counts(_docs(spark, sf_dir), top_k=50)
    return out.select(
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
    )


Q_TEXT_BPE_PAIRS_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
pr AS (
  SELECT t[j] AS lhs, t[j + 1] AS rhs
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) js
)
SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pr GROUP BY 1, 2
ORDER BY n_pairs DESC, lhs ASC, rhs ASC
LIMIT 50
"""


def q_corpus_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed rank-sum ROC-AUC (ops/prefix.py: binary_auc —
    Mann-Whitney over the global score rank, built on the prefix-sum
    global_rank): how well document length separates English from
    non-English in the corpus. One row (auc, n_pos, n_neg)."""
    from ukis_h3cellstore_spark.ops import prefix as P

    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", (F.col("lang") == "en").alias("is_en")
    )
    return P.binary_auc(
        d, "n_chars", "is_en", tiebreak_cols=["doc_id"], num_partitions=8
    )


Q_CORPUS_QUALITY_AUC_SQL = """
WITH r AS (
  SELECT (lang = 'en') AS pos,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rk
  FROM documents
)
SELECT round((CAST(SUM(rk) FILTER (WHERE pos) AS DOUBLE)
              - CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
                * (CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
                / 2.0)
             / (CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
                * CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS DOUBLE)),
             6) AS auc,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
FROM r
"""


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media detection (ops/multimodal.py:
    perceptual_hash_stub + ops/dedup.py: hamming_pairs): a SimHash-
    style perceptual hash over binary payload byte 4-grams (Arrow-
    batched mapInPandas — the real-decoder swap point), paired by the
    generic banded-XOR hamming join."""
    # spread (paired A/B ~1.7 vs ~2.6 s): the synthetic payload
    # render + 64-bit phash fold is a heavy per-row chain on the scan
    payloads = M.attach_binary_payload(_docs(spark, sf_dir, spread=True))
    return M.phash_dup_pairs(payloads, max_hamming=4).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


Q_MULTIMODAL_PHASH_SQL = """
WITH g AS (
  SELECT doc_id, substr(text, j, 4) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - 3)) AS j) js
  WHERE len(text) >= 4
),
hb AS (SELECT doc_id,
              ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
       FROM g),
bits AS (
  SELECT doc_id, b.j,
         SUM(CASE WHEN (h >> b.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hb, (SELECT unnest(generate_series(0, 59)) AS j) b
  GROUP BY 1, 2
),
ph AS (SELECT doc_id,
              SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS phash
       FROM bits GROUP BY 1)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 4
"""


def q_multimodal_phash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-density pre-flight for the banded hamming join
    (ops/dedup.py: hamming_density_probe): a deterministic
    hash-sampled inter-print hamming distribution over the corpus's
    perceptual hashes, extrapolated to a predicted-true-pair count
    per candidate threshold 0..8. This is the probe the multimodal
    curation flagship consults (via phash_dup_pairs'
    ``pair_budget``) before committing to a hamming join — the
    dense-print regime's answer to "is this threshold affordable".
    At sf0.1 the auto sample_mod resolves to 2 (5000 prints /
    target 2000), exercising the sampled path; at sf0.01 it is 1
    (exact)."""
    # spread (paired A/B ~1.7 vs ~2.6 s): the synthetic payload
    # render + 64-bit phash fold is a heavy per-row chain on the scan
    payloads = M.attach_binary_payload(_docs(spark, sf_dir, spread=True))
    ph = (
        M.perceptual_hash_stub(payloads)
        .filter(F.col("phash").isNotNull())
        .localCheckpoint(eager=False)
    )
    return D.hamming_density_probe(ph, "phash", id_col="doc_id", max_hamming=8)


Q_MULTIMODAL_PHASH_DENSITY_SQL = """
WITH g AS (
  SELECT doc_id, substr(text, j, 4) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - 3)) AS j) js
  WHERE len(text) >= 4
),
hb AS (SELECT doc_id,
              ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
       FROM g),
bits AS (
  SELECT doc_id, b.j,
         SUM(CASE WHEN (h >> b.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hb, (SELECT unnest(generate_series(0, 59)) AS j) b
  GROUP BY 1, 2
),
ph AS (SELECT doc_id,
              SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS phash
       FROM bits GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM ph),
m AS (SELECT GREATEST(1, (SELECT n_total FROM tot) // 2000) AS smod),
samp AS (
  SELECT doc_id, phash FROM ph
  WHERE (('0x' || substr(md5('hdprobe' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        % (SELECT smod FROM m) = 0
),
sc AS (SELECT COUNT(*) AS n_sample FROM samp),
hist AS (
  SELECT CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS d,
         COUNT(*) AS cnt
  FROM samp a JOIN samp b ON a.doc_id < b.doc_id
  GROUP BY 1
)
SELECT CAST(ds.hamming AS INT) AS hamming,
       CAST(COALESCE(SUM(h.cnt), 0) AS BIGINT) AS sample_pairs_le,
       CAST((SELECT n_sample FROM sc) AS BIGINT) AS n_sample,
       CAST((SELECT n_total FROM tot) AS BIGINT) AS n_total,
       CASE WHEN (SELECT n_sample FROM sc) >= 2 THEN
         CAST(COALESCE(SUM(h.cnt), 0)
              * (((SELECT n_total FROM tot) * ((SELECT n_total FROM tot) - 1)) // 2)
              // (((SELECT n_sample FROM sc) * ((SELECT n_sample FROM sc) - 1)) // 2)
              AS BIGINT)
       END AS predicted_pairs_le
FROM (SELECT unnest(generate_series(0, 8)) AS hamming) ds
LEFT JOIN hist h ON h.d <= ds.hamming
GROUP BY ds.hamming
"""


def q_text_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training round end-to-end (ops/text.py:
    bpe_pair_counts + bpe_apply_merge): find the corpus's most
    frequent adjacent token pair (one-row driver collect — the argmax
    is metadata), then greedily rewrite every document with that merge
    applied. The oracle replays greedy-left-to-right as odd positions
    within match-run islands."""
    docs = _docs(spark, sf_dir)
    top = X.bpe_pair_counts(docs, top_k=1).collect()[0]
    out = X.bpe_apply_merge(docs, top["left"], top["right"])
    return out.select(
        "doc_id",
        F.col("text").alias("text_merged"),
        F.col("n_merged").cast("long").alias("n_merged"),
    )


Q_TEXT_BPE_MERGE_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
pr AS (
  SELECT t[j] AS lhs, t[j + 1] AS rhs
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) js
),
top AS (SELECT lhs, rhs FROM pr GROUP BY 1, 2
        ORDER BY COUNT(*) DESC, lhs ASC, rhs ASC LIMIT 1),
m AS (
  SELECT tk.doc_id, js.j
  FROM toks tk, top,
       LATERAL (SELECT unnest(generate_series(1, len(tk.t) - 1)) AS j) js
  WHERE tk.t[js.j] = top.lhs AND tk.t[js.j + 1] = top.rhs
),
isl AS (SELECT doc_id, j,
               j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
        FROM m),
st AS (
  SELECT doc_id, j FROM (
    SELECT doc_id, j,
           row_number() OVER (PARTITION BY doc_id, grp ORDER BY j) AS rn
    FROM isl
  ) WHERE rn % 2 = 1
),
cells AS (
  SELECT tk.doc_id, js.i, tk.t[js.i] AS w, len(tk.t) AS n
  FROM toks tk,
       LATERAL (SELECT unnest(generate_series(1, len(tk.t))) AS i) js
),
kept AS (
  SELECT c.doc_id, c.i,
         CASE WHEN s1.j IS NOT NULL
              THEN (SELECT lhs FROM top) || (SELECT rhs FROM top)
              ELSE c.w END AS w,
         c.n
  FROM cells c
  LEFT JOIN st s1 ON s1.doc_id = c.doc_id AND s1.j = c.i
  LEFT JOIN st s2 ON s2.doc_id = c.doc_id AND s2.j = c.i - 1
  WHERE s2.j IS NULL
)
SELECT doc_id,
       string_agg(w, ' ' ORDER BY i) AS text_merged,
       CAST(MAX(n) - COUNT(*) AS BIGINT) AS n_merged
FROM kept GROUP BY doc_id
"""


def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed modern-corpus cleaning pipeline over the round-6
    operators, as ONE Catalyst chain: render lines → C4 line+page
    filter → corpus-wide line dedup on the surviving pages → per-source
    report (docs kept, lines kept/total, chars out). Exercises
    cross-operator optimization — the C4 projection, the dedup
    shuffle, and the report agg plan as one query."""
    # spread: the render chain below is barriered, so without it the
    # whole line-render evaluates on the unsplittable 1-task scan
    docs = _docs(spark, sf_dir, spread=True)
    toks_df = docs.select(
        "doc_id", "source", X.tokens("text").alias("__toks")
    )
    n = F.size(F.col("__toks"))
    lines = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(8.0)).cast("int") - 1),
        lambda j: F.concat(
            F.concat_ws(" ", F.slice(F.col("__toks"), j * 8 + 1, 8)),
            F.when(j % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    # materialization barrier: without it Catalyst pushes the c4_pass
    # predicate — which embeds this whole render — below the exchange
    # into the scan's Filter, re-evaluating the render per branch AND
    # per predicate on the unsplittable 1-task scan stage (observed as
    # two serial ~1.6 s single-task jobs at sf0.1; the same shape at
    # 100 TB re-renders the corpus 3×). The render now computes once,
    # spread across the cluster, and both consumers read the blocks.
    lined = toks_df.select(
        "doc_id", "source", F.array_join(lines, "\n").alias("text")
    ).localCheckpoint(eager=False)
    cleaned = X.c4_quality_filter(lined.select("doc_id", "text"))
    passed = cleaned.filter(F.col("c4_pass")).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    deduped = D.segment_dedup(passed)
    return (
        deduped.join(lined.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_segments").alias("n_lines"),
            F.sum("n_kept").alias("n_lines_kept"),
            F.sum(F.length("text_clean")).alias("n_chars_out"),
        )
    )


Q_CORPUS_CLEAN_PIPELINE_SQL = f"""
WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents),
lines AS (
  SELECT doc_id, source, j,
         array_to_string(list_slice(t, j * 8 + 1, j * 8 + 8), ' ')
           || CASE WHEN j % 2 = 0 THEN '.' ELSE '' END AS line
  FROM toks,
       LATERAL (SELECT unnest(generate_series(
                  0, CAST(ceil(len(t) / 8.0) AS INT) - 1)) AS j) js
),
judged AS (
  SELECT doc_id, source, j, line,
         regexp_matches(trim(line), '[.!?"]$')
           AND len(list_filter(regexp_split_to_array(trim(line), '\\s+'),
                               w -> len(w) > 0)) >= 5
           AND NOT regexp_matches(line,
                 '\\b(javascript|cookie|cookies|privacy policy|terms of use)\\b',
                 'i') AS ok
  FROM lines
),
pages AS (
  SELECT doc_id, source,
         COALESCE(string_agg(line, chr(10) ORDER BY j)
                    FILTER (WHERE ok), '') AS text_clean,
         bool_or(contains(lower(line), 'lorem ipsum')) AS has_li,
         bool_or(contains(line, '{{')) AS has_cb
  FROM judged GROUP BY doc_id, source
),
passed AS (
  SELECT doc_id, source, text_clean AS text
  FROM pages
  WHERE len(list_filter(regexp_split_to_array(text_clean, '[.!?]'),
                        s -> len(trim(s)) > 0)) >= 3
    AND NOT has_li AND NOT has_cb
),
split_docs AS (
  SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM passed
),
seg_pos AS (
  SELECT doc_id, source, generate_subscripts(ls, 1) AS j2, ls
  FROM split_docs
),
segs AS (
  SELECT doc_id, source, j2, ls[j2] AS seg
  FROM seg_pos WHERE trim(ls[j2]) <> ''
),
ranked AS (
  SELECT doc_id, source, j2, seg,
         row_number() OVER (PARTITION BY lower(trim(seg))
                            ORDER BY doc_id, j2) AS rn
  FROM segs
),
rebuilt AS (
  SELECT doc_id, source,
         COALESCE(string_agg(seg, chr(10) ORDER BY j2)
                    FILTER (WHERE rn = 1), '') AS text_clean,
         COUNT(*) AS n_segments,
         COUNT(*) FILTER (WHERE rn = 1) AS n_kept
  FROM ranked GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_segments) AS BIGINT) AS n_lines,
       CAST(SUM(n_kept) AS BIGINT) AS n_lines_kept,
       CAST(SUM(len(text_clean)) AS BIGINT) AS n_chars_out
FROM rebuilt GROUP BY source
"""


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-entropy report (gibberish/boilerplate
    screen): per-doc Shannon entropy in pure array folds, aggregated."""
    docs = _docs(spark, sf_dir)
    e = X.char_entropy(docs).join(docs.select("doc_id", "lang"), on="doc_id")
    return e.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("entropy"), 6).alias("avg_entropy"),
        F.min("entropy").alias("min_entropy"),
        F.max("entropy").alias("max_entropy"),
    )


Q_TEXT_CHAR_ENTROPY_SQL = """
WITH per_doc AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN len(regexp_split_to_array(d.text, '')) > 0 AND d.text <> ''
              THEN round(-list_reduce(
                list_transform(
                  list_sort(list_distinct(regexp_split_to_array(d.text, ''))),
                  c -> (CAST(len(list_filter(regexp_split_to_array(d.text, ''),
                                             x -> x = c)) AS DOUBLE)
                        / len(regexp_split_to_array(d.text, '')))
                       * ln(CAST(len(list_filter(regexp_split_to_array(d.text, ''),
                                                 x -> x = c)) AS DOUBLE)
                            / len(regexp_split_to_array(d.text, '')))
                ), (s, v) -> s + v), 6)
              ELSE 0.0 END AS entropy
  FROM documents d
)
SELECT lang, COUNT(*) AS n_docs,
       round(AVG(entropy), 6) AS avg_entropy,
       MIN(entropy) AS min_entropy,
       MAX(entropy) AS max_entropy
FROM per_doc GROUP BY 1
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization surface (ops/text.py:normalize_text):
    the dedup-key text form, summarized as (doc_id, n_chars_norm,
    norm_h) so the gate stays narrow."""
    from ukis_h3cellstore_spark.entry_queries import _hash64

    out = X.normalize_text(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.length("norm_text").alias("n_chars_norm"),
        _hash64(F.col("norm_text")).alias("norm_h"),
    )


Q_TEXT_NORMALIZE_SQL = f"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(norm_text) AS INT) AS n_chars_norm,
       {_DUCK_HASH64.format(x='norm_text')} AS norm_h
FROM n
"""


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-chunk removal stats
    (ops/text.py:boilerplate_chunk_stats): word-chunk doc-frequency
    screen, per-doc survival report."""
    return X.boilerplate_chunk_stats(
        _docs(spark, sf_dir), chunk_words=8, min_doc_freq=2
    )


Q_TEXT_BOILERPLATE_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
nn AS (SELECT doc_id, toks,
              CASE WHEN len(array_to_string(toks, '')) = 0 THEN 0
                   ELSE len(toks) END AS n
       FROM base),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, u.i, u.i + 7), ' ')) AS h,
         least(8, n - u.i + 1) AS words
  FROM nn, unnest(generate_series(1, n, 8)) AS u(i)
),
freq AS (SELECT h, count(DISTINCT doc_id) AS df FROM chunks GROUP BY 1)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN f.df < 2 THEN c.words ELSE 0 END) AS BIGINT) AS kept_words
FROM chunks c JOIN freq f USING (h)
GROUP BY 1
"""


def q_text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-weight linear quality classifier
    (ops/text.py:quality_logit) — learned-filter shape, exact BIGINT
    score."""
    return X.quality_logit(_docs(spark, sf_dir))


_DUCK_STOPLIST = "[" + ", ".join(f"'{s}'" for s in X.STOPWORDS) + "]"

Q_TEXT_QUALITY_LOGIT_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKS}) END AS n_tokens,
         len(text) AS n_chars,
         len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         len(list_filter({_DUCK_TOKS},
                         t -> list_contains({_DUCK_STOPLIST}, t))) AS n_stop
  FROM documents
),
pm AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN (n_stop * 1000) // n_tokens ELSE 0 END AS stop_pm,
         CASE WHEN n_chars > 0 THEN (n_punct * 1000) // n_chars ELSE 0 END AS punct_pm
  FROM f
),
l AS (
  SELECT doc_id,
         CAST(-500 + least(n_tokens, 200) * 10 + stop_pm * 3
              + punct_pm * (-5) AS BIGINT) AS logit_milli
  FROM pm
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, logit_milli,
       CASE WHEN logit_milli > 0 THEN 'keep'
            WHEN logit_milli >= -1000 THEN 'review'
            ELSE 'drop' END AS quality_bucket
FROM l
"""


def q_ann_sq8_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (ops/similarity.py:sq8_topk): per-dim
    min/max codebook, 8-bit codes, integer squared-L2 ranking."""
    e = _embs(spark, sf_dir)
    return S.sq8_topk(e, e.filter(F.col("vec_id") < 5), k=3)


Q_ANN_SQ8_SQL = """
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
stats AS (
  SELECT pos, min(v) AS mn, max(v) AS mx FROM comp GROUP BY 1
),
codes AS (
  SELECT vec_id,
         list(CASE WHEN s.mx > s.mn
                   THEN least(255, greatest(0,
                        CAST(floor((c.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT)))
                   ELSE 0 END ORDER BY c.pos) AS codes
  FROM comp c JOIN stats s USING (pos)
  GROUP BY 1
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.codes, c.codes),
                                    x -> (x[1] - x[2]) * (x[1] - x[2])),
                     (s, v) -> s + v) AS code_d2
  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY code_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(code_d2 AS BIGINT) AS code_d2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""



def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (ops/sampling.py:
    dsir_importance_weights): score every document against the src1
    sub-corpus as the target domain — the published
    importance-resampling recipe for domain-targeted data selection.
    The oracle recomputes the bag-of-bigrams likelihood ratio chain
    (target-vocabulary feature space + OOV bucket, add-one smoothing)
    relationally from scratch."""
    from ukis_h3cellstore_spark.ops import sampling as SP

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("source") == "src1")
    return SP.dsir_importance_weights(docs, target, k=2)


def _q_corpus_dsir_weights_sql() -> str:
    grams = """SELECT doc_id, concat_ws(' ', toks[i], toks[i+1]) AS g
FROM (SELECT doc_id, {toks} AS toks FROM documents {where}) t,
     unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)"""
    cg = grams.format(toks=_DUCK_TOKS, where="")
    tg = grams.format(toks=_DUCK_TOKS, where="WHERE source = 'src1'")
    return f"""
WITH cg AS ({cg}),
tg AS ({tg}),
ct AS (SELECT g, COUNT(*) AS ct FROM tg GROUP BY 1),
cs AS (
  SELECT cg.g, COUNT(*) AS cs FROM cg
  WHERE cg.g IN (SELECT g FROM ct) GROUP BY 1
),
consts AS (
  SELECT (SELECT COUNT(*) FROM tg) AS nt,
         (SELECT COUNT(*) FROM cg) AS ns,
         (SELECT COUNT(*) FROM ct) AS v,
         (SELECT COALESCE(SUM(cs), 0) FROM cs) AS cs_in
),
ratios AS (
  SELECT ct.g,
         ((ct.ct + 1) / (c.nt + c.v + 1.0))
           / ((COALESCE(cs.cs, 0) + 1) / (c.ns + c.v + 1.0)) AS ratio
  FROM ct LEFT JOIN cs ON ct.g = cs.g CROSS JOIN consts c
),
oov AS (
  SELECT (1.0 / (c.nt + c.v + 1.0))
           / ((c.ns - c.cs_in + 1) / (c.ns + c.v + 1.0)) AS ratio
  FROM consts c
),
scored AS (
  SELECT cg.doc_id, COUNT(*) AS n_grams,
         SUM(ln(COALESCE(r.ratio, (SELECT ratio FROM oov)))) AS w
  FROM cg LEFT JOIN ratios r ON cg.g = r.g
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       round(COALESCE(s.w, 0.0), 6) AS weight
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""

_BM25_QUERIES = [
    (1, "spark join filter"),
    (2, "customer order data"),
    (3, "stream window merge"),
]


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (ops/text.bm25_topk): top-5 documents
    for three fixed keyword queries. The postings explode is
    pre-filtered by a broadcast query-term list, so every shuffle
    scales with matched hits, not corpus x vocab."""
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, query_text string"
    )
    return X.bm25_topk(_docs(spark, sf_dir), queries, topk=5)


def _q_text_bm25_sql() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    k1, b = 1.2, 0.75
    k1p1, one_m_b = k1 + 1.0, 1.0 - b
    return f"""
WITH q(query_id, query_text) AS (VALUES {vals}),
base AS (
  SELECT doc_id,
         list_filter({_DUCK_TOKS}, t -> len(t) > 0) AS toks
  FROM documents
),
b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM b2),
qt AS (
  SELECT DISTINCT query_id,
         unnest(regexp_split_to_array(trim(query_text), '\\s+')) AS term
  FROM q
),
tl AS (SELECT DISTINCT term FROM qt),
posts AS (
  SELECT doc_id, dl, u.term
  FROM b2, unnest(toks) AS u(term)
  JOIN tl USING (term)
),
tf AS (
  SELECT term, doc_id, dl, COUNT(*) AS tf
  FROM posts GROUP BY 1, 2, 3
),
dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
idf AS (
  SELECT term, ln((s.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
         CAST(s.sum_dl AS DOUBLE) / s.n_docs AS avgdl
  FROM dfc CROSS JOIN stats s
),
scored AS (
  SELECT qt.query_id, tf.doc_id, tf.term,
         i.idf * ((tf.tf * {k1p1!r})
                  / (tf.tf + {k1!r} * ({one_m_b!r} + {b!r} * tf.dl / i.avgdl)))
           AS score
  FROM tf JOIN idf i USING (term) JOIN qt USING (term)
),
per_qd AS (
  SELECT query_id, doc_id,
         round(list_reduce(list(score ORDER BY term), (s, v) -> s + v), 4)
           AS bm25
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM per_qd
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(doc_id AS BIGINT) AS doc_id,
       bm25, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_hamming_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-bit ANN (ops/similarity.hamming_topk): 64-d floats
    pack to two 32-bit words via per-dim midpoint thresholds; top-3
    by XOR+popcount for the first three vectors. Integer-exact."""
    e = _embs(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < 3)
    return S.hamming_topk(e, probes, k=3)


Q_ANN_HAMMING_SQL = """
WITH comp AS (
  SELECT generate_subscripts(embedding, 1) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
stats AS (
  SELECT d, (MIN(v) + MAX(v)) / 2.0 AS thr FROM comp GROUP BY d
),
tl AS (SELECT list(thr ORDER BY d) AS thr FROM stats),
codes AS (
  SELECT vec_id,
         list_reduce(list_transform(range(1, 33),
             j -> CASE WHEN CAST(embedding[j] AS DOUBLE) > tl.thr[j]
                       THEN 1::BIGINT << (j - 1) ELSE 0::BIGINT END),
             (s, v) -> s + v) AS w0,
         list_reduce(list_transform(range(33, 65),
             j -> CASE WHEN CAST(embedding[j] AS DOUBLE) > tl.thr[j]
                       THEN 1::BIGINT << (j - 33) ELSE 0::BIGINT END),
             (s, v) -> s + v) AS w1
  FROM embeddings CROSS JOIN tl
),
q AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1 FROM codes
      WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.w0, q.qw0))
              + bit_count(xor(c.w1, q.qw1)) AS INT) AS hamming
  FROM codes c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       hamming, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out stupid-backoff trigram surprisal (ops/text.
    trigram_backoff_surprisal): counts trained on sources != src0,
    src0 documents scored — so the backoff levels genuinely fire on
    unseen trigrams, the published eval shape."""
    d = _docs(spark, sf_dir)
    return X.trigram_backoff_surprisal(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
    )


Q_TEXT_TRIGRAM_BACKOFF_SQL = f"""
WITH tr AS (
  SELECT doc_id, list_filter({_DUCK_TOKS}, t -> len(t) > 0) AS toks
  FROM documents WHERE source <> 'src0'
),
sc AS (
  SELECT doc_id, list_filter({_DUCK_TOKS}, t -> len(t) > 0) AS toks
  FROM documents WHERE source = 'src0'
),
tr3 AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
  FROM tr, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tr3 GROUP BY 1, 2, 3),
tr2 AS (
  SELECT toks[i] AS p, toks[i + 1] AS w
  FROM tr, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)
),
cb AS (SELECT p, w, COUNT(*) AS cb FROM tr2 GROUP BY 1, 2),
tru AS (SELECT u.t FROM tr, unnest(toks) AS u(t)),
cu AS (SELECT t, COUNT(*) AS cu FROM tru GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_tok FROM tru),
sc3 AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
  FROM sc, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
j AS (
  SELECT s.doc_id, c3.c3, x12.cb AS ctx12, b23.cb AS c23,
         u2.cu AS ctx2, u3.cu AS cu3, tot.n_tok,
         CASE WHEN c3.c3 IS NOT NULL THEN 0
              WHEN b23.cb IS NOT NULL THEN 1
              WHEN u3.cu IS NOT NULL THEN 2
              ELSE 3 END AS lvl
  FROM sc3 s
  LEFT JOIN c3 ON s.w1 = c3.w1 AND s.w2 = c3.w2 AND s.w3 = c3.w3
  LEFT JOIN cb x12 ON s.w1 = x12.p AND s.w2 = x12.w
  LEFT JOIN cb b23 ON s.w2 = b23.p AND s.w3 = b23.w
  LEFT JOIN cu u2 ON s.w2 = u2.t
  LEFT JOIN cu u3 ON s.w3 = u3.t
  CROSS JOIN tot
),
scored AS (
  SELECT doc_id, lvl,
         CASE lvl
           WHEN 0 THEN length(bin(ctx12)) - length(bin(c3))
           WHEN 1 THEN 2 + length(bin(ctx2)) - length(bin(c23))
           WHEN 2 THEN 4 + length(bin(n_tok)) - length(bin(cu3))
           ELSE 4 + length(bin(n_tok)) END AS s
  FROM j
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(s) AS BIGINT) AS sum_surprisal,
       CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff1,
       CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff2,
       CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((1000 * SUM(s)) // COUNT(*) AS BIGINT) AS avg_surprisal_milli
FROM scored GROUP BY 1
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (ops/graph.pagerank, 3 iterations) over
    the bipartite user<->event_type interaction graph derived from
    events — the web-graph centrality signal corpus pipelines rank
    pages by (Common Crawl publishes exactly this). Integer-exact, so
    the DuckDB oracle hash-matches bit-for-bit."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = b.union(
        b.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return G.pagerank(edges, iterations=3)


def q_graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (ops/graph.pagerank with seeds): restart
    mass concentrated on the event-type nodes of the bipartite
    user<->type graph — relevance-to-the-seeds instead of global
    centrality, the 'rank pages near trusted domains' signal.
    Integer-exact fixed point, bit-matched by the unrolled oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = b.union(
        b.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = b.select(F.col("dst").alias("node")).distinct()
    return G.pagerank(edges, iterations=3, seeds=seeds)


def _ppr_oracle_sql(iterations: int = 3) -> str:
    """Unrolled personalized fixed-point iteration: teleport + initial
    mass restricted to the seed set (type nodes, prefix 't')."""
    parts = [
        "WITH e0 AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,"
        " 't' || event_type AS dst FROM events),",
        "e AS (SELECT src, dst FROM e0"
        " UNION SELECT dst AS src, src AS dst FROM e0),",
        "nd0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "nd AS (SELECT node, CASE WHEN node LIKE 't%' THEN 1 ELSE 0 END"
        " AS sd FROM nd0),",
        "ns AS (SELECT SUM(sd) AS n FROM nd),",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),",
        "tele AS (SELECT CAST((150 * CAST(1000000000 AS BIGINT))"
        " // (1000 * n) AS BIGINT) AS t FROM ns),",
        "r0 AS (SELECT node, CAST(sd * (1000000000 // n) AS BIGINT)"
        " AS rank_fp FROM nd CROSS JOIN ns),",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" SUM(r.rank_fp // d.outdeg) AS csum"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN deg d ON e.src = d.src GROUP BY 1),"
        )
        parts.append(
            f"r{i} AS (SELECT nd.node,"
            f" CAST(nd.sd * t + (850 * COALESCE(c.csum, 0)) // 1000"
            f" AS BIGINT) AS rank_fp"
            f" FROM nd LEFT JOIN c{i} c ON nd.node = c.node"
            f" CROSS JOIN tele),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT node, rank_fp FROM r{iterations}"


def _pagerank_oracle_sql(iterations: int = 3) -> str:
    """Unrolled fixed-point power iteration matching ops/graph."""
    parts = [
        "WITH e0 AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,"
        " 't' || event_type AS dst FROM events),",
        "e AS (SELECT src, dst FROM e0"
        " UNION SELECT dst AS src, src AS dst FROM e0),",
        "nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "nn AS (SELECT COUNT(*) AS n FROM nd),",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),",
        "tele AS (SELECT CAST((150 * CAST(1000000000 AS BIGINT))"
        " // (1000 * n) AS BIGINT) AS t FROM nn),",
        "r0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS rank_fp"
        " FROM nd CROSS JOIN nn),",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" SUM(r.rank_fp // d.outdeg) AS csum"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN deg d ON e.src = d.src GROUP BY 1),"
        )
        parts.append(
            f"r{i} AS (SELECT nd.node,"
            f" CAST(t + (850 * COALESCE(c.csum, 0)) // 1000 AS BIGINT)"
            f" AS rank_fp"
            f" FROM nd LEFT JOIN c{i} c ON nd.node = c.node"
            f" CROSS JOIN tele),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT node, rank_fp FROM r{iterations}"


Q_GRAPH_PAGERANK_SQL = _pagerank_oracle_sql(3)


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (ops/versioning.
    snapshot_diff): old drops doc_id%10==0, new drops doc_id%13==0
    and edits doc_id%7==0 — so all four statuses genuinely occur.
    The op shuffles (key, 64-bit hash) only, never the text."""
    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 10 != 0)
    new = d.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    diff = V.snapshot_diff(old, new, key="doc_id", content_cols=("text",))
    return (
        diff.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
    )


Q_CORPUS_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text = n.text THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT d.source, j.status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(j.doc_id) AS BIGINT) AS sum_doc_id
FROM j JOIN documents d ON j.doc_id = d.doc_id
GROUP BY 1, 2
"""


def q_corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hard frequency cap (ops/sampling.cap_per_group,
    cap=40): the domain-cap step of web-corpus curation. Two-phase
    plan — hash-prefix prefilter sized ~margin*cap, exact rank on
    survivors only — bit-identical to the naive full window sort the
    oracle runs."""
    d = _docs(spark, sf_dir)
    return SM.cap_per_group(
        d.select("doc_id", "source"), cap=40,
        group_col="source", id_col="doc_id",
    )


Q_CORPUS_DOMAIN_CAP_SQL = """
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
)
SELECT doc_id, source FROM r WHERE rn <= 40
"""


def q_events_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (ops/annotation.fleiss_kappa) treating each
    block of 20 consecutive event_ids as one item rated by a panel of
    20, with event_type as the label — integer-exact rational kappa,
    the chance-corrected agreement gate labeled data passes before
    training."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ratings = ev.select(
        F.expr("event_id div 20").alias("item_id"),
        F.col("event_type").alias("label"),
    )
    return AN.fleiss_kappa(ratings, n_raters=20)


Q_EVENTS_FLEISS_KAPPA_SQL = """
WITH r AS (
  SELECT event_id // 20 AS item_id, event_type AS label FROM events
),
nij AS (SELECT item_id, label, COUNT(*) AS nij FROM r GROUP BY 1, 2),
pi AS (
  SELECT item_id, SUM(nij) AS ni, SUM(nij * nij) AS sq
  FROM nij GROUP BY 1
),
kept AS (SELECT * FROM pi WHERE ni = 20),
drp AS (SELECT COUNT(*) AS n_dropped_items FROM pi WHERE ni <> 20),
cj AS (
  SELECT n.label, SUM(n.nij) AS cj
  FROM nij n JOIN kept k ON n.item_id = k.item_id GROUP BY 1
),
g1 AS (SELECT COUNT(*) AS n_items, SUM(sq) AS a_sum FROM kept),
g2 AS (SELECT COUNT(*) AS n_categories, SUM(cj * cj) AS s_sum FROM cj)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(20 AS BIGINT) AS n_raters,
       CAST(n_categories AS BIGINT) AS n_categories,
       CAST(n_dropped_items AS BIGINT) AS n_dropped_items,
       CAST((a_sum - n_items * 20) * (n_items * 20) - s_sum * 19
            AS BIGINT) AS kappa_num,
       CAST(((n_items * 20) * (n_items * 20) - s_sum) * 19
            AS BIGINT) AS kappa_den
FROM g1, g2, drp
"""


def q_ann_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (ops/selection.kcenter_coreset, k=6)
    over the embeddings table — farthest-point data-pruning on a
    floor-quantized integer lattice, so the max-min distances are
    exact and the unrolled DuckDB oracle hash-matches."""
    return SEL.kcenter_coreset(_embs(spark, sf_dir), k=6)


def _kcenter_oracle_sql(k: int = 6, scale: int = 10_000) -> str:
    """Unrolled greedy farthest-point traversal matching
    ops/selection.kcenter_coreset (seed = min vec_id, ties to the
    smaller id, squared L2 on the floor-quantized lattice)."""
    dist = (
        "list_sum(list_transform(range(1, 1 + len(v.q)),"
        " i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i])))"
    )
    parts = [
        "WITH q AS (SELECT vec_id, list_transform(embedding,"
        f" x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS q"
        " FROM embeddings),",
        "c0 AS (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT 1),",
        f"m1 AS (SELECT v.vec_id, v.q, {dist} AS mind"
        " FROM q v CROSS JOIN c0 c),",
    ]
    sels = ["SELECT 0 AS sel_order, vec_id, 0 AS dist_from_set FROM c0"]
    for s in range(1, k):
        parts.append(
            f"s{s} AS (SELECT vec_id, mind FROM m{s}"
            " ORDER BY mind DESC, vec_id LIMIT 1),"
        )
        sels.append(
            f"SELECT {s} AS sel_order, vec_id, mind AS dist_from_set FROM s{s}"
        )
        if s < k - 1:
            parts.append(
                f"c{s} AS (SELECT m.vec_id, m.q FROM m{s} m"
                f" JOIN s{s} ON m.vec_id = s{s}.vec_id),"
            )
            parts.append(
                f"m{s + 1} AS (SELECT v.vec_id, v.q,"
                f" LEAST(v.mind, {dist}) AS mind"
                f" FROM m{s} v CROSS JOIN c{s} c),"
            )
    body = "\n".join(parts).rstrip(",")
    union = "\nUNION ALL ".join(sels)
    return (
        f"{body}\nSELECT CAST(sel_order AS BIGINT) AS sel_order,"
        " CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(dist_from_set AS BIGINT) AS dist_from_set"
        f" FROM ({union})"
    )


Q_ANN_KCENTER_SQL = _kcenter_oracle_sql(6)


def q_corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom prefilter (ops/dedup.bloom_membership_flags) of the
    corpus against the src0 eval texts: the map-side membership test
    that avoids shuffling the corpus, with the exact broadcast
    semi-join alongside so false positives are counted, per source."""
    d = _docs(spark, sf_dir)
    ev = d.filter(F.col("source") == "src0").select("text")
    co = d.filter(F.col("source") != "src0")
    flagged = D.bloom_membership_flags(co, ev, key_col="text")
    exact = (
        co.join(F.broadcast(ev.distinct()), "text", "semi")
        .select("doc_id")
        .withColumn("_ex", F.lit(True))
    )
    return (
        flagged.join(exact, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pass_bloom"), 1).otherwise(0)).alias(
                "n_pass_bloom"
            ),
            F.sum(F.when(F.col("_ex"), 1).otherwise(0)).alias("n_exact"),
            F.sum(
                F.when(F.col("pass_bloom") & F.col("_ex").isNull(), 1).otherwise(0)
            ).alias("n_false_pos"),
        )
    )


Q_CORPUS_BLOOM_SQL = """
WITH ev AS (SELECT text FROM documents WHERE source = 'src0'),
co AS (SELECT doc_id, text, source FROM documents WHERE source <> 'src0'),
bpos AS (
  SELECT DISTINCT
    (('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || text), 1, 10))::BIGINT)
      % 16384 AS pos
  FROM ev, unnest([0, 1, 2]) AS u(i)
),
cpos AS (
  SELECT doc_id, i,
    (('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || text), 1, 10))::BIGINT)
      % 16384 AS pos
  FROM co, unnest([0, 1, 2]) AS u(i)
),
hits AS (
  SELECT c.doc_id FROM cpos c JOIN bpos b ON c.pos = b.pos
  GROUP BY c.doc_id HAVING COUNT(DISTINCT c.i) = 3
),
ex AS (SELECT DISTINCT co.doc_id FROM co JOIN ev ON co.text = ev.text)
SELECT co.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pass_bloom,
  CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact,
  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL AND e.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM co
LEFT JOIN hits h ON co.doc_id = h.doc_id
LEFT JOIN ex e ON co.doc_id = e.doc_id
GROUP BY 1
"""


def q_events_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-reproducible HyperLogLog (ops/sketches.hll_summary,
    b=9) over event_id, with the exact distinct count alongside —
    the mergeable cardinality sketch whose md5-derived registers any
    engine can reproduce bit-for-bit (Spark's approx_count_distinct
    cannot be cross-checked; this can, and is)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    summary = SK.hll_summary(ev.select("event_id"), "event_id", b=9)
    exact = ev.agg(
        F.count_distinct("event_id").cast("long").alias("n_exact")
    )
    return summary.crossJoin(exact)


Q_EVENTS_HLL_SQL = """
WITH h AS (
  SELECT (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
    AS h
  FROM events
),
reg AS (
  SELECT h % 512 AS idx,
         MAX(CASE WHEN h // 512 = 0 THEN 52
                  ELSE 52 - length(bin(h // 512)) END) AS mj
  FROM h GROUP BY 1
),
s AS (
  SELECT COUNT(*) AS n_used,
         SUM((CAST(1 AS BIGINT) << CAST(52 - mj AS INT))) AS sp
  FROM reg
),
x AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events)
SELECT CAST(512 AS BIGINT) AS m,
       CAST(512 - n_used AS BIGINT) AS n_empty_registers,
       CAST(sp + (512 - n_used) * (CAST(1 AS BIGINT) << 52) AS BIGINT)
         AS sum_pow,
       CAST(n_exact AS BIGINT) AS n_exact
FROM s, x
"""


def q_text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via an engine-reproducible count-min sketch
    (ops/sketches.cms_registers, d=3, w=512): salted-md5 register
    table (≤ d*w rows, mergeable by register-wise sum), candidate
    probe via broadcast join, threshold = total_tokens div 64.  CMS
    over-estimates, so the candidate set is a guaranteed superset of
    the true heavy hitters; the exact count is joined alongside at
    gate scale to exhibit the one-sided-error contract."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("tok")
    )
    hh = SK.cms_heavy_hitters(toks, "tok", threshold_frac=64, d=3, w=512).select(
        "tok", "est"
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt_exact"))
    return hh.join(exact, "tok")


Q_TEXT_CMS_SQL = """
WITH raw AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
tok AS (SELECT tok FROM raw WHERE length(tok) > 0),
salts AS (SELECT * FROM (VALUES (0, '0'), (1, '1'), (2, '2')) AS s(j, sj)),
reg AS (
  SELECT s.j AS j,
         (('0x' || substr(md5(s.sj || ':' || tok), 1, 15))::BIGINT) % 512
           AS idx,
         COUNT(*) AS cnt
  FROM tok, salts s
  GROUP BY 1, 2
),
exact AS (SELECT tok, COUNT(*) AS cnt_exact FROM tok GROUP BY 1),
total AS (SELECT COUNT(*) AS n_total FROM tok),
probe AS (
  SELECT e.tok, s.j AS j,
         (('0x' || substr(md5(s.sj || ':' || e.tok), 1, 15))::BIGINT) % 512
           AS idx
  FROM exact e, salts s
),
est AS (
  SELECT p.tok, MIN(r.cnt) AS est
  FROM probe p JOIN reg r ON r.j = p.j AND r.idx = p.idx
  GROUP BY 1
)
SELECT est.tok AS tok, CAST(est AS BIGINT) AS est,
       CAST(cnt_exact AS BIGINT) AS cnt_exact
FROM est JOIN exact USING (tok) CROSS JOIN total
WHERE est >= n_total // 64
"""


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier screen (ops/robust.py: mad_outliers):
    exact median + MAD per event type via the range-partition +
    broadcast-offset grouped rank (never a group-wide sort on one
    task; Spark's own exact ``percentile`` buffers a whole group in
    one aggregation buffer — a scale-killer when a group is 20 % of
    the corpus). Summary per type: n, median, MAD, outlier count at
    k = 3.5."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("value").isNotNull()
    )
    from ukis_h3cellstore_spark.ops import robust as R

    out = R.mad_outliers(ev, "event_type", "value", k=3.5)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.first("median"), 4).alias("median"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
    )


Q_EVENTS_MAD_OUTLIERS_SQL = """
WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type, ANY_VALUE(n) AS n, SUM(value) / COUNT(*) AS median
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
SELECT m.event_type,
       CAST(m.n AS BIGINT) AS n,
       round(m.median, 4) AS median,
       round(x.mad, 4) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3.5 * x.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d JOIN med m USING (event_type) JOIN mad x USING (event_type)
GROUP BY 1, 2, 3, 4
"""


def q_corpus_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment (ops/sampling.py:
    length_bucket_batches / batch_padding_stats): power-of-two length
    buckets via integer bit-length, per-bucket batch numbering through
    the distributed grouped_rank, integer-exact padding-waste report
    per (bucket, batch)."""
    return SM.batch_padding_stats(_docs(spark, sf_dir), batch_size=32)


Q_CORPUS_LENGTH_BATCHES_SQL = """
WITH base AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents WHERE trim(text) <> ''
),
b AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens <= 1 THEN 1
              ELSE (1::BIGINT << length(bin(n_tokens - 1))) END AS bucket
  FROM base
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk
  FROM b
),
g AS (
  SELECT bucket, (rk - 1) // 32 AS batch_no,
         COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens
  FROM r GROUP BY 1, 2
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(batch_no AS BIGINT) AS batch_no,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(bucket * n_docs AS BIGINT) AS padded_tokens,
       CAST((1000 * (bucket * n_docs - total_tokens))
            // (bucket * n_docs) AS BIGINT) AS waste_milli
FROM g
"""


def q_corpus_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling mix (ops/sampling.py:
    token_budget_allocation + token_budget_mix): integer waterline
    across sources (small sources keep everything, big ones capped at
    the common line), then deterministic hash-ordered prefix
    truncation per source via the distributed grouped_cumsum. Summary
    per kept source: docs, tokens kept, allocation."""
    out = SM.token_budget_mix(_docs(spark, sf_dir), budget=10_000)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.first("alloc").cast("long").alias("alloc"),
    )


Q_CORPUS_TOKEN_BUDGET_MIX_SQL = """
WITH base AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents WHERE trim(text) <> ''
),
counts AS (SELECT source, SUM(n_tokens) AS st FROM base GROUP BY 1),
st AS (
  SELECT source, st,
         row_number() OVER (ORDER BY st, source) AS j,
         COALESCE(SUM(st) OVER (ORDER BY st, source
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS p,
         COUNT(*) OVER () AS k
  FROM counts
),
lam AS (SELECT *, (10000 - p) // (k - j + 1) AS lam_j FROM st),
line AS (SELECT lam_j AS line FROM lam WHERE st > lam_j ORDER BY j LIMIT 1),
alloc AS (
  SELECT source,
         CASE WHEN (SELECT line FROM line) IS NULL THEN st
              ELSE LEAST(st, (SELECT line FROM line)) END AS alloc
  FROM lam
),
h AS (
  SELECT b.*,
         ('0x' || substr(md5('tb' || '|' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT AS hh
  FROM base b
),
c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
  FROM h
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
       CAST(ANY_VALUE(a.alloc) AS BIGINT) AS alloc
FROM c JOIN alloc a USING (source)
WHERE cum <= a.alloc
GROUP BY 1
"""


def q_events_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment ROC-AUC (ops/robust.py: grouped_auc): rank-sum AUC
    of the value score against a synthetic binary label WITHIN each
    event type — the per-slice separation report curation classifiers
    need. Integer-exact auc_micro; ranks from the distributed
    grouped_rank, no group-wide one-task sort."""
    from ukis_h3cellstore_spark.ops import robust as R

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "value",
            (F.col("user_id") % 3 == 0).alias("label"),
        )
    )
    return R.grouped_auc(
        ev, "event_type", "value", "label", tiebreak_cols=["event_id"]
    )


Q_EVENTS_GROUPED_AUC_SQL = """
WITH v AS (
  SELECT event_id, event_type, value, (user_id % 3 = 0) AS pos
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, pos,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk
  FROM v
),
a AS (
  SELECT event_type,
         SUM(CASE WHEN pos THEN rk ELSE 0 END) AS rs,
         SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg
  FROM r GROUP BY 1
)
SELECT event_type,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
              (1000000 * (2 * rs - n_pos * (n_pos + 1)))
                // (2 * n_pos * n_neg)
            ELSE NULL END AS BIGINT) AS auc_micro
FROM a
"""


def q_ann_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JL sign projection (ops/similarity.py:
    random_sign_projection): 64-d embeddings down to 16 integer-exact
    milli components via a salted-md5 ±1 matrix inlined as literals —
    one shuffle-free codegen projection, reproducible by the SQL
    oracle through the same md5 formula."""
    return S.random_sign_projection(
        _embs(spark, sf_dir), in_dim=64, out_dim=16
    ).select(
        "vec_id",
        F.col("dim_no").cast("int").alias("dim_no"),
        F.col("proj_milli").cast("long").alias("proj_milli"),
    )


Q_ANN_RANDOM_PROJECTION_SQL = """
WITH q AS (
  SELECT vec_id, ii.i - 1 AS i,
         -- promote to DOUBLE before scaling: FLOAT * INT stays single
         -- precision in DuckDB and rounds differently at half-milli
         -- boundaries than Spark's double path
         CAST(round(CAST(embedding[ii.i] AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) ii
)
SELECT q.vec_id,
       CAST(j.j AS INT) AS dim_no,
       CAST(SUM(qv * (((('0x' || substr(md5('rp' || '|' || q.i || '|' || j.j),
                                1, 2))::INT) % 2) * 2 - 1)) AS BIGINT)
         AS proj_milli
FROM q, (SELECT unnest(generate_series(0, 15)) AS j) j
GROUP BY 1, 2
"""


def q_events_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (ops/robust.py: winsorize_by_group):
    clamp event values to the type's [p5, p95] via the partial-agg
    interpolating percentile (matches DuckDB quantile_cont), then the
    per-type winsorized mean + clamp counts."""
    from ukis_h3cellstore_spark.ops import robust as R

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("value").isNotNull()
    )
    w = R.winsorize_by_group(ev, "event_type", "value")
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("clamped_lo").cast("long")).alias("n_clamped_lo"),
        F.sum(F.col("clamped_hi").cast("long")).alias("n_clamped_hi"),
        F.round(F.avg("value_w"), 4).alias("mean_winsorized"),
    )


Q_EVENTS_WINSORIZED_SQL = """
WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo_cut,
         quantile_cont(value, 0.95) AS hi_cut
  FROM v GROUP BY 1
)
SELECT v.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN v.value < c.lo_cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_lo,
       CAST(SUM(CASE WHEN v.value > c.hi_cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_hi,
       round(AVG(LEAST(GREATEST(v.value, c.lo_cut), c.hi_cut)), 4)
         AS mean_winsorized
FROM v JOIN cuts c USING (event_type)
GROUP BY 1
"""


def q_events_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration bins (ops/robust.py:
    calibration_bins): fixed-width decile bins over a synthetic
    pseudo-probability (fractional part of value), observed positive
    rate per bin — the classifier-calibration eval, one map-side
    integer binning + hash-agg."""
    from ukis_h3cellstore_spark.ops import robust as R

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("value") - F.floor(F.col("value"))).alias("score"),
            (F.col("user_id") % 3 == 0).alias("label"),
        )
    )
    return R.calibration_bins(ev, "score", "label", n_bins=10)


Q_EVENTS_CALIBRATION_SQL = """
WITH s AS (
  SELECT value - floor(value) AS score, (user_id % 3 = 0) AS label
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT LEAST(GREATEST(CAST(floor(score * 10) AS INT), 0), 9) AS bin_no,
         score, CASE WHEN label THEN 1 ELSE 0 END AS y
  FROM s
)
SELECT bin_no,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       round(AVG(score), 4) AS mean_score,
       round(AVG(CAST(y AS DOUBLE)), 4) AS pos_rate
FROM b GROUP BY 1
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (ops/graph.py: triangle_counts) on a
    deterministic synthetic graph over the events table — the
    degree-ordered node-iterator whose wedge join pivots only on the
    low-degree endpoint."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("event_id") % 60).alias("id_a"),
        (F.col("user_id") % 60).alias("id_b"),
    )
    return G.triangle_counts(ev)


Q_GRAPH_TRIANGLES_SQL = """
WITH e0 AS (
  SELECT DISTINCT LEAST(event_id % 60, user_id % 60) AS a,
                  GREATEST(event_id % 60, user_id % 60) AS b
  FROM events WHERE event_id % 60 <> user_id % 60
),
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1
  JOIN e0 e2 ON e2.a = e1.b
  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
m AS (
  SELECT x AS node FROM t
  UNION ALL SELECT y FROM t
  UNION ALL SELECT z FROM t
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM m GROUP BY 1
"""


def q_corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level MinHash drift (ops/sketches.py:
    source_minhash_drift): one k=32 partial-agg signature per source
    over its 3-token shingles, broadcast self-join for signature
    agreement — the corpus-level re-crawl screen."""
    return SK.source_minhash_drift(_docs(spark, sf_dir), k=32)


def _q_corpus_source_drift_sql(k: int = 32) -> str:
    from ukis_h3cellstore_spark.ops.dedup import MINHASH_PRIME, _minhash_coeffs

    coefs = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in ((j, _minhash_coeffs(j)) for j in range(k))
    )
    return f"""
WITH base AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT source, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM base,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                AS i) u
),
hx AS (
  SELECT source,
         (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % {MINHASH_PRIME}
           AS x
  FROM sh
),
coef(j, ca, cb) AS (VALUES {coefs}),
m AS (
  SELECT source, c.j, MIN((c.ca * x + c.cb) % {MINHASH_PRIME}) AS h
  FROM hx, coef c
  GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(SUM(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT) AS matches,
       CAST((1000 * SUM(CASE WHEN a.h = b.h THEN 1 ELSE 0 END)) // {k}
            AS BIGINT) AS est_jaccard_milli
FROM m a JOIN m b ON a.j = b.j AND a.source < b.source
GROUP BY 1, 2
"""


def q_events_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group quantile normalization (ops/robust.py:
    quantile_transform): each event's value mapped to its empirical
    milli-quantile inside its type — distribution-free cross-group
    score calibration via the distributed grouped_rank."""
    from ukis_h3cellstore_spark.ops import robust as R

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    ).filter(F.col("value").isNotNull())
    out = R.quantile_transform(
        ev, "event_type", "value", tiebreak_cols=["event_id"]
    )
    return out.select("event_id", "event_type", "q_milli")


Q_EVENTS_QUANTILE_SQL = """
WITH v AS (
  SELECT event_id, event_type, value
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_id, event_type,
       CAST((1000 * rk) // (n + 1) AS BIGINT) AS q_milli
FROM r
"""


def q_ann_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation report (ops/similarity.py:
    label_centroid_similarity): pairwise cosine between per-label
    embedding centroids via integer milli-quantized sums — exact until
    the final pair-level division."""
    return S.label_centroid_similarity(_embs(spark, sf_dir))


Q_ANN_LABEL_CENTROID_SQL = """
WITH q AS (
  SELECT label, ii.i - 1 AS i,
         CAST(round(CAST(embedding[ii.i] AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) ii
),
s AS (SELECT label, i, SUM(qv) AS s FROM q GROUP BY 1, 2),
n AS (SELECT label, SUM(s * s) AS n2 FROM s GROUP BY 1),
d AS (
  SELECT a.label AS label_a, b.label AS label_b, SUM(a.s * b.s) AS dt
  FROM s a JOIN s b ON a.i = b.i AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       round(CAST(dt AS DOUBLE)
             / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4)
         AS centroid_cos
FROM d
JOIN n na ON na.label = d.label_a
JOIN n nb ON nb.label = d.label_b
"""


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet (ops/report.py: corpus_datacard):
    size, composition, exact-dup level, exact median length, source
    skew — the numeric core of a 'Datasheets for Datasets' card as
    engine-exact aggregates."""
    from ukis_h3cellstore_spark.ops import report as RP

    return RP.corpus_datacard(_docs(spark, sf_dir))


Q_CORPUS_DATACARD_SQL = """
WITH base AS (
  SELECT doc_id, source, lang,
         CAST(length(text) AS BIGINT) AS chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
         md5(lower(trim(text))) AS h
  FROM documents
),
totals AS (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs,
         SUM(toks) AS total_tokens,
         SUM(chars) AS total_chars
  FROM base
),
dups AS (
  SELECT COALESCE(COUNT(*), 0) AS n_dup_groups,
         COALESCE(SUM(n), 0) AS n_dup_docs
  FROM (SELECT h, COUNT(*) AS n FROM base GROUP BY 1 HAVING COUNT(*) > 1)
),
r AS (
  SELECT chars,
         row_number() OVER (ORDER BY chars) AS rk,
         COUNT(*) OVER () AS n
  FROM base
),
med AS (
  SELECT SUM(chars) / COUNT(*) AS median_chars
  FROM r WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
),
ts AS (
  SELECT MAX(sn) AS top FROM (
    SELECT COUNT(*) AS sn FROM base GROUP BY source
  )
)
SELECT CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.n_sources AS BIGINT) AS n_sources,
       CAST(t.n_langs AS BIGINT) AS n_langs,
       CAST(t.total_tokens AS BIGINT) AS total_tokens,
       CAST(t.total_chars AS BIGINT) AS total_chars,
       med.median_chars,
       CAST(d.n_dup_groups AS BIGINT) AS n_dup_groups,
       CAST(d.n_dup_docs AS BIGINT) AS n_dup_docs,
       CAST((1000 * ts.top) // t.n_docs AS BIGINT) AS top_source_share_milli
FROM totals t CROSS JOIN dups d CROSS JOIN med CROSS JOIN ts
"""


def q_ann_whitened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding whitening (ops/similarity.py: whiten_embeddings):
    per-dimension z-scores from commutative integer moment sums —
    deterministic double math on exact integers, corpus never
    shuffles."""
    out = S.whiten_embeddings(_embs(spark, sf_dir))
    return out.select(
        "vec_id",
        F.col("dim_no").cast("int").alias("dim_no"),
        # + 0.0 collapses IEEE negative zero: BigDecimal rounding loses
        # the sign on Spark while DuckDB's round keeps -0.0
        (F.col("w") + F.lit(0.0)).alias("w"),
    )


Q_ANN_WHITENED_SQL = """
WITH q AS (
  SELECT vec_id, ii.i - 1 AS dim_no,
         CAST(round(CAST(embedding[ii.i] AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) ii
),
st AS (
  SELECT dim_no, SUM(qv) AS s, SUM(qv * qv) AS s2, COUNT(*) AS n
  FROM q GROUP BY 1
)
SELECT q.vec_id, CAST(q.dim_no AS INT) AS dim_no,
       round((CAST(q.qv AS DOUBLE) - CAST(s AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n),
             4) + 0.0 AS w
FROM q JOIN st USING (dim_no)
"""


def q_text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars-per-token in milli
    (integer div of exact sums) — the budgeting number multilingual
    tokenizer work reports (high fertility = the language pays more
    context window per character). One partial agg."""
    docs = _docs(spark, sf_dir)
    n_tok = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    return (
        docs.select(
            "lang",
            F.length("text").cast("long").alias("__c"),
            n_tok.cast("long").alias("__t"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__c").alias("total_chars"),
            F.sum("__t").alias("total_tokens"),
        )
        .withColumn(
            "chars_per_token_milli",
            F.expr("(1000 * total_chars) div total_tokens").cast("long"),
        )
    )


Q_TEXT_FERTILITY_SQL = """
WITH x AS (
  SELECT lang, CAST(length(text) AS BIGINT) AS c,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS t
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(c) AS BIGINT) AS total_chars,
       CAST(SUM(t) AS BIGINT) AS total_tokens,
       CAST((1000 * SUM(c)) // SUM(t) AS BIGINT) AS chars_per_token_milli
FROM x GROUP BY 1
"""


def q_corpus_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: group the corpus by
    (lang, source, log2 length bucket) and report every group with
    fewer than k=5 members — the privacy-review question "can a
    document be singled out by its visible attributes". Integer
    bit-length buckets, one hash-agg."""
    docs = _docs(spark, sf_dir)
    bucket = F.when(F.col("n_chars") <= 1, F.lit(0)).otherwise(
        F.length(F.bin(F.col("n_chars") - 1))
    )
    return (
        docs.select("lang", "source", bucket.cast("int").alias("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .filter(F.col("n_members") < 5)
    )


Q_CORPUS_K_ANON_SQL = """
WITH x AS (
  SELECT lang, source,
         CASE WHEN n_chars <= 1 THEN 0
              ELSE length(bin(n_chars - 1)) END AS len_bucket
  FROM documents
)
SELECT lang, source, CAST(len_bucket AS INT) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM x GROUP BY 1, 2, 3
HAVING COUNT(*) < 5
"""


def q_corpus_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (ops/report.py: l_diversity) — k-anonymity's
    sibling: equivalence classes of (source, log2 length bucket) whose
    LANGUAGE attribute takes fewer than l=3 distinct values — a large
    class still leaks the sensitive attribute if every member shares
    one. One hash-agg, classes-sized output."""
    from ukis_h3cellstore_spark.ops import report as RP

    docs = _docs(spark, sf_dir)
    bucket = F.when(F.col("n_chars") <= 1, F.lit(0)).otherwise(
        F.length(F.bin(F.col("n_chars") - 1))
    )
    base = docs.select(
        "source", bucket.cast("int").alias("len_bucket"), "lang"
    )
    return RP.l_diversity(base, ["source", "len_bucket"], "lang", l=3)


Q_CORPUS_L_DIVERSITY_SQL = """
WITH x AS (
  SELECT source,
         CASE WHEN n_chars <= 1 THEN 0
              ELSE length(bin(n_chars - 1)) END AS len_bucket,
         lang
  FROM documents
)
SELECT source, CAST(len_bucket AS INT) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_distinct
FROM x GROUP BY 1, 2
HAVING COUNT(DISTINCT lang) < 3
"""


def q_corpus_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl novelty triage (ops/dedup.py:
    novelty_against_corpus): for each incoming document (doc_id < 100)
    the fraction of its distinct 3-shingles absent from the
    established corpus (doc_id ≥ 100) — near-zero novelty means the
    crawl re-fetched known content. Inverted-index anti-join on the
    shingle key; the corpus reduces to its distinct shingle set once."""
    docs = _docs(spark, sf_dir)
    return D.novelty_against_corpus(
        docs.filter(F.col("doc_id") < 100),
        docs.filter(F.col("doc_id") >= 100),
    )


Q_CORPUS_NOVELTY_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
newsh AS (SELECT doc_id, shingle FROM sh WHERE doc_id < 100),
corp AS (SELECT DISTINCT shingle FROM sh WHERE doc_id >= 100),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM newsh GROUP BY 1),
nov AS (SELECT n.doc_id, COUNT(*) AS n_novel FROM newsh n
        WHERE n.shingle NOT IN (SELECT shingle FROM corp) GROUP BY 1)
SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
       CAST((1000 * COALESCE(v.n_novel, 0)) // t.n_shingles AS BIGINT)
         AS novelty_milli
FROM tot t LEFT JOIN nov v ON v.doc_id = t.doc_id
"""


def q_corpus_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade attrition report (ops/selection.py:
    first_fail_stage): every document is charged to the FIRST stage it
    fails — min-token floor, mean-token-length ceiling, type-token
    ratio floor, exact-dup canonicality — and the per-source waterfall
    (n_docs, drop per stage, n_kept) is the observability table a
    curation run ships. Integer-exact predicates (thresholds sit
    inside the corpus's actual distributions so every stage fires);
    the dup flag is the one corpus-context join (min doc_id per
    80-char-prefix fingerprint — the cheap URL-less canonicality
    proxy), everything else is one map-side CASE chain."""
    docs = _docs(spark, sf_dir)
    toks = X.tokens("text")
    n_tok = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(toks))
    staged = docs.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("__nt"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("__tc"),
        F.size(F.array_distinct(toks)).cast("long").alias("__nd"),
        F.md5(F.substring(F.col("text"), 1, 80)).alias("__h"),
    )
    canon = staged.groupBy("__h").agg(F.min("doc_id").alias("__canon"))
    flagged = staged.join(canon, on="__h")
    out = SEL.first_fail_stage(
        flagged,
        [
            ("min_tokens", F.col("__nt") >= 20),
            ("tok_len", 10 * F.col("__tc") <= 49 * F.col("__nt")),
            ("ttr", 10 * F.col("__nd") >= 3 * F.col("__nt")),
            ("dup", F.col("doc_id") == F.col("__canon")),
        ],
    )

    def _n(stage: str):
        return F.sum(
            F.when(F.col("fail_stage") == stage, 1).otherwise(0)
        ).cast("long")

    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _n("min_tokens").alias("drop_min_tokens"),
        _n("tok_len").alias("drop_tok_len"),
        _n("ttr").alias("drop_ttr"),
        _n("dup").alias("drop_dup"),
        F.sum(
            F.when(F.col("fail_stage").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_kept"),
    )


Q_CORPUS_ATTRITION_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKS}) END AS nt,
         list_aggregate(list_transform({_DUCK_TOKS}, x -> length(x)),
                        'sum') AS tc,
         len(list_distinct({_DUCK_TOKS})) AS nd,
         md5(substr(text, 1, 80)) AS h
  FROM documents
),
canon AS (SELECT h, MIN(doc_id) AS canon FROM base GROUP BY 1),
staged AS (
  SELECT b.source,
         CASE WHEN NOT (b.nt >= 20) THEN 'min_tokens'
              WHEN NOT (10 * b.tc <= 49 * b.nt) THEN 'tok_len'
              WHEN NOT (10 * b.nd >= 3 * b.nt) THEN 'ttr'
              WHEN NOT (b.doc_id = c.canon) THEN 'dup'
              ELSE NULL END AS fail_stage
  FROM base b JOIN canon c ON c.h = b.h
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN fail_stage = 'min_tokens' THEN 1 ELSE 0 END)
            AS BIGINT) AS drop_min_tokens,
       CAST(SUM(CASE WHEN fail_stage = 'tok_len' THEN 1 ELSE 0 END)
            AS BIGINT) AS drop_tok_len,
       CAST(SUM(CASE WHEN fail_stage = 'ttr' THEN 1 ELSE 0 END)
            AS BIGINT) AS drop_ttr,
       CAST(SUM(CASE WHEN fail_stage = 'dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS drop_dup,
       CAST(SUM(CASE WHEN fail_stage IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM staged GROUP BY 1
"""


def q_text_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile: token count, distinct vocabulary,
    hapax legomena (once-only tokens), and type-token ratio in milli —
    the Heaps'-law point per source, the linguistic-diversity number
    corpus cards report. One (source, token) hash-agg, map-side
    combinable, then a sources-sized rollup."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("__tok"),
    ).filter(F.length("__tok") > 0)
    per_tok = tok.groupBy("source", "__tok").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return (
        per_tok.groupBy("source")
        .agg(
            F.sum("__c").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum((F.col("__c") == 1).cast("long")).alias("n_hapax"),
        )
        .withColumn(
            "ttr_milli",
            F.expr("(1000 * vocab_size) div total_tokens").cast("long"),
        )
    )


Q_TEXT_VOCAB_PROFILE_SQL = """
WITH tok AS (
  SELECT source, t2.tok
  FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents) x,
       LATERAL (SELECT unnest(toks) AS tok) t2
  WHERE length(t2.tok) > 0
),
pt AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST((1000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_milli
FROM pt GROUP BY 1
"""


def q_corpus_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed source overlap (ops/sketches.py: source_containment):
    |A∩B|/|A| over distinct shingles per ordered source pair — catches
    'B contains A' that symmetric Jaccard drift misses."""
    return SK.source_containment(_docs(spark, sf_dir)).select(
        "source_a",
        "source_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("size_a").cast("long").alias("size_a"),
        "containment_milli",
    )


Q_CORPUS_SOURCE_CONTAINMENT_SQL = """
WITH base AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT source,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM base,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                AS i) u
),
sz AS (SELECT source, COUNT(*) AS size_a FROM sh GROUP BY 1),
it AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT it.source_a, it.source_b,
       CAST(it.inter AS BIGINT) AS inter,
       CAST(sz.size_a AS BIGINT) AS size_a,
       CAST((1000 * it.inter) // sz.size_a AS BIGINT) AS containment_milli
FROM it JOIN sz ON sz.source = it.source_a
"""


def q_corpus_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-integrity train/val/test split (ops/sampling.py:
    split_by_group): the split hashes the SOURCE key, so a domain's
    documents never straddle the train/test fence (the leak
    GroupShuffleSplit exists to prevent). The gate proves integrity:
    one row per (source, split) — a source appearing under two splits
    would change the row count."""
    out = SM.split_by_group(
        _docs(spark, sf_dir), "source", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def _q_corpus_group_split_sql() -> str:
    bucket = (
        "(('0x' || substr(md5('gsplit' || '|' || source), 1, 15))"
        f"::BIGINT % {SM.SPLIT_BUCKETS})"
    )
    t_hi = int(round(0.8 * SM.SPLIT_BUCKETS))
    v_hi = t_hi + int(round(0.1 * SM.SPLIT_BUCKETS))
    return f"""
SELECT source,
       CASE WHEN {bucket} < {t_hi} THEN 'train'
            WHEN {bucket} < {v_hi} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics: exact median gap (µs)
    between a user's consecutive events of that type — per-user lag
    windows (users are many and small, so the window key is fine),
    then the distributed grouped median over the gap stream."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops import robust as R

    e = _events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "user_id")
    gaps = (
        e.withColumn("__prev", F.lag("ts_us").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            "event_type", (F.col("ts_us") - F.col("__prev")).alias("__gap")
        )
    )
    return R.grouped_median(gaps, "event_type", "__gap").select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.col("median").alias("median_gap_us"),
    )


Q_EVENTS_INTERARRIVAL_SQL = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type ORDER BY epoch_us(ts)) AS gap
  FROM events
),
v AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
r AS (
  SELECT event_type, gap,
         row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_gaps,
       SUM(gap) / COUNT(*) AS median_gap_us
FROM r WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
GROUP BY 1
"""


_TAXONOMY = {
    "join": "relational",
    "agg": "relational",
    "sort": "relational",
    "scan": "storage",
    "table": "storage",
    "batch": "streaming",
    "stream": "streaming",
    "window": "streaming",
    "vector": "ml",
    "hash": "ml",
}


def q_text_taxonomy_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword taxonomy tagging (ops/text.py: taxonomy_tag): route
    every document to a topic by broadcast-joining a keyword→topic
    dictionary against the exploded token stream; one partial agg per
    doc, deterministic lexicographic tie-break. The gate projects the
    scalar summary (match count, distinct topics, dominant topic) —
    the per-topic map stays internal."""
    out = X.taxonomy_tag(_docs(spark, sf_dir), _TAXONOMY)
    return out.select(
        "doc_id",
        F.col("n_matches").cast("long").alias("n_matches"),
        F.size("topic_counts").cast("long").alias("n_topics"),
        "dominant_topic",
    )


def _q_text_taxonomy_tag_sql() -> str:
    vals = ", ".join(f"('{k}', '{v}')" for k, v in sorted(_TAXONOMY.items()))
    return f"""
WITH kw(kw, topic) AS (VALUES {vals}),
tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS kw
  FROM documents
),
hits AS (
  SELECT t.doc_id, k.topic, COUNT(*) AS n
  FROM tok t JOIN kw k USING (kw) GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, topic, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, topic) AS rn,
         SUM(n) OVER (PARTITION BY doc_id) AS n_matches,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_topics
  FROM hits
)
SELECT d.doc_id,
       CAST(COALESCE(r.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(COALESCE(r.n_topics, 0) AS BIGINT) AS n_topics,
       COALESCE(r.topic, 'other') AS dominant_topic
FROM documents d
LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (doc_id)
"""


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (ops/sampling.py:
    weighted_sample): per-source top-5 winners of the deterministic
    Efraimidis–Spirakis exponential race, weight = document length —
    longer documents proportionally likelier, reproducibly (salted md5,
    no rand()). Output is integer/string columns only; the float race
    keys never leave the operator (set membership is hash-stable
    because 60-bit hash gaps dwarf double rounding)."""
    out = SM.weighted_sample(
        _docs(spark, sf_dir), k=5, weight_col="n_chars", by="source"
    )
    return out.select("doc_id", "source", F.col("n_chars").cast("long"))


Q_CORPUS_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((('0x' || substr(md5('ws' || '|' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT + 1.0)
            / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY k DESC, doc_id) AS rn
  FROM keyed
)
WHERE rn <= 5
"""


_TOKPACK_MERGES = 3


def q_corpus_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship tokenize→pack→shard pipeline — the daily end-to-end a
    training-data user runs, composed from the gated pieces: train a
    BPE merge table on the corpus (ops/text.py: bpe_train, 3 rounds),
    apply the FULL merge table (bpe_apply_merge per rule — map-only
    array folds, no shuffle), pack the retokenized corpus into
    512-token context windows over 8 shards (ops/sampling.py:
    pack_documents), export the packed corpus as JSON-line shards
    (layout.write_jsonl_shards), and report per-(shard, bin) packing
    stats computed from the READ-BACK export — so the shard write/read
    roundtrip is inside the verified chain, not just the plan.

    Scale posture: bpe_train's per-round driver involvement is one
    1-row argmax collect (train on a sample at 100 TB — see
    docs/SCALE.md); the merge application, packing window, and shard
    write are all distributed and corpus-sized exactly once each."""
    from ukis_h3cellstore_spark import layout as L
    from ukis_h3cellstore_spark.entry_queries import _stable_tmpdir

    # spread: bpe_train's per-round rewrite chain checkpoints each
    # round, so the scan's 1-task layout would pin every round's
    # tokenize+merge pass to one core
    docs = _docs(spark, sf_dir, spread=True).select("doc_id", "text")
    # the training loop's final checkpointed frame IS the corpus with
    # every merge applied — re-applying the table from raw text ran
    # the whole rewrite chain (and its tokenizations) a second time
    merges, cur = X.bpe_train(
        docs, n_merges=_TOKPACK_MERGES, return_corpus=True
    )
    packed = SM.pack_documents(cur, max_tokens=512, num_shards=8)
    export = cur.join(packed, "doc_id").select(
        "doc_id", "shard", "n_tokens", "bin", "text"
    )
    path = _stable_tmpdir("tokpack_", sf_dir)
    L.write_jsonl_shards(export.repartition(8), path, docs_per_shard=2000)
    # explicit shared schema + FAILFAST: inference is a full parse
    # pass over the export (one read instead of two, guide §6), and
    # FAILFAST makes any drift in the exported columns fail loudly
    # instead of PERMISSIVE's silent nulls
    back = (
        spark.read.schema(_PACK_EXPORT_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
    )
    return (
        back.groupBy(
            F.col("shard").cast("int").alias("shard"),
            F.col("bin").cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "fill_ratio", F.round(F.col("total_tokens") / F.lit(512.0), 4)
        )
    )


def _q_corpus_tokenize_pack_sql(n_merges: int = _TOKPACK_MERGES) -> str:
    """Programmatically-built oracle: each BPE round re-derives the
    argmax pair and rewrites the token lists with the same greedy
    island/odd-rank semantics as Q_TEXT_BPE_MERGE_SQL, chained through
    ``n_merges`` CTE generations; the final corpus packs with the
    pack_documents window arithmetic."""
    parts = [
        "WITH c0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"{_DUCK_TOKS} AS t FROM documents)"
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(f""",
top{k} AS (
  SELECT t[j] AS lhs, t[j + 1] AS rhs
  FROM c{p}, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) js
  GROUP BY 1, 2 ORDER BY COUNT(*) DESC, lhs ASC, rhs ASC LIMIT 1),
m{k} AS (
  SELECT c.doc_id, js.j
  FROM c{p} c, top{k},
       LATERAL (SELECT unnest(generate_series(1, len(c.t) - 1)) AS j) js
  WHERE c.t[js.j] = top{k}.lhs AND c.t[js.j + 1] = top{k}.rhs),
isl{k} AS (SELECT doc_id, j,
                  j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
           FROM m{k}),
st{k} AS (
  SELECT doc_id, j FROM (
    SELECT doc_id, j,
           row_number() OVER (PARTITION BY doc_id, grp ORDER BY j) AS rn
    FROM isl{k}
  ) WHERE rn % 2 = 1),
cells{k} AS (
  SELECT c.doc_id, js.i, c.t[js.i] AS w
  FROM c{p} c, LATERAL (SELECT unnest(generate_series(1, len(c.t))) AS i) js),
kept{k} AS (
  SELECT cl.doc_id, cl.i,
         CASE WHEN s1.j IS NOT NULL
              THEN (SELECT lhs FROM top{k}) || (SELECT rhs FROM top{k})
              ELSE cl.w END AS w
  FROM cells{k} cl
  LEFT JOIN st{k} s1 ON s1.doc_id = cl.doc_id AND s1.j = cl.i
  LEFT JOIN st{k} s2 ON s2.doc_id = cl.doc_id AND s2.j = cl.i - 1
  WHERE s2.j IS NULL),
c{k} AS (SELECT doc_id, list(w ORDER BY i) AS t FROM kept{k} GROUP BY doc_id)""")
    parts.append(f""",
tp_base AS (
  SELECT doc_id,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8) AS INT) AS shard,
         CAST(CASE WHEN len(t) = 1 AND t[1] = '' THEN 0 ELSE len(t) END
              AS BIGINT) AS n_tokens
  FROM c{n_merges}),
tp_packed AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS bin_offset
  FROM tp_base)
SELECT shard, CAST(bin_offset // 512 AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(SUM(n_tokens) / 512.0, 4) AS fill_ratio
FROM tp_packed GROUP BY 1, 2""")
    return "".join(parts)


Q_CORPUS_TOKENIZE_PACK_SQL = _q_corpus_tokenize_pack_sql()


# ---------------------------------------------------------------------------
# round 8 additions: KS drift, categorical dependence, Pareto frontier,
# readability, matryoshka prefix ANN
# ---------------------------------------------------------------------------


def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit (ops/robust.py:ks_vs_rest): per
    event_type two-sample Kolmogorov-Smirnov statistic of ``value``
    against the pooled distribution, integer-exact in micro units
    (cumulative-count cross products + integral division; no float).
    Both ECDF sweeps are range-partition + broadcast-offset cumsums —
    no one-task global window."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops.robust import ks_vs_rest

    ev = _events(spark, sf_dir).select("event_type", "value")
    out = ks_vs_rest(ev, "event_type", "value", scale=1_000_000)
    return out.select(
        "event_type", "n_group", F.col("ks_scaled").alias("ks_micro")
    )


Q_EVENTS_KS_DRIFT_SQL = """
WITH ev AS (SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
cnt AS (SELECT v, g, COUNT(*) AS c FROM ev GROUP BY 1,2),
perval AS (SELECT v, SUM(c) AS cv FROM cnt GROUP BY 1),
pooled AS (SELECT v, SUM(cv) OVER (ORDER BY v) AS cpool FROM perval),
grp AS (SELECT g, SUM(c) AS n_group FROM cnt GROUP BY 1),
tot AS (SELECT SUM(n_group) AS n_all FROM grp),
grid AS (SELECT p.v, p.cpool, gr.g, gr.n_group, COALESCE(c.c, 0) AS cellc
         FROM pooled p CROSS JOIN grp gr
         LEFT JOIN cnt c ON c.v = p.v AND c.g = gr.g),
gcum AS (SELECT v, g, cpool, n_group,
                SUM(cellc) OVER (PARTITION BY g ORDER BY v) AS cgrp
         FROM grid),
d AS (SELECT g, n_group,
             MAX(ABS(CAST(cgrp AS HUGEINT) * (SELECT n_all FROM tot)
                     - CAST(cpool AS HUGEINT) * n_group)) AS dnum
      FROM gcum GROUP BY 1,2)
SELECT g AS event_type, CAST(n_group AS BIGINT) AS n_group,
       CAST((dnum * 1000000) // (CAST(n_group AS HUGEINT)
            * (SELECT n_all FROM tot)) AS BIGINT) AS ks_micro
FROM d
"""


def q_events_type_bucket_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounding audit (ops/report.py:categorical_dependence):
    chi-squared + mutual information + Cramer's V between event_type
    and a user-id bucket — "is my label independent of my cohort".
    One |A|x|B| contingency aggregation; margins broadcast."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops.report import categorical_dependence

    ev = _events(spark, sf_dir).withColumn(
        "user_bucket", F.pmod(F.col("user_id"), F.lit(7)).cast("int")
    )
    return categorical_dependence(ev, "event_type", "user_bucket")


Q_EVENTS_DEPENDENCE_SQL = """
WITH base AS (SELECT event_type AS a, CAST(user_id % 7 AS INT) AS b FROM events),
cells AS (SELECT a, b, COUNT(*) AS o FROM base GROUP BY 1,2),
ra AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
cb AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS na, COUNT(DISTINCT b) AS nb
        FROM cells),
grid AS (SELECT ra.a, cb.b, ra.r, cb.c, COALESCE(cells.o, 0) AS o
         FROM ra CROSS JOIN cb
         LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b)
SELECT CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b, CAST((na-1)*(nb-1) AS BIGINT) AS dof,
       round(SUM((o - r*c/CAST(n AS DOUBLE))^2 / (r*c/CAST(n AS DOUBLE))), 6)
         AS chi2,
       round(SUM(CASE WHEN o > 0 THEN (o/CAST(n AS DOUBLE))
                 * ln(o * CAST(n AS DOUBLE) / (r * CAST(c AS DOUBLE)))
                 ELSE 0 END), 6) AS mi_nats,
       round(sqrt(SUM((o - r*c/CAST(n AS DOUBLE))^2 / (r*c/CAST(n AS DOUBLE)))
             / (n * (least(na, nb) - 1))), 6) AS cramers_v
FROM grid, tot GROUP BY n, na, nb
"""


def q_events_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-criteria pick list (ops/selection.py:pareto_frontier):
    undominated (n_events, max_value) user profiles — per-x max
    reduction then ONE distributed exclusive-cummax sweep
    (ops/prefix.py:global_cummax), never the all-pairs dominance
    join."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops.selection import pareto_frontier

    up = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
    )
    return pareto_frontier(up, "n_events", "max_value")


Q_EVENTS_PARETO_SQL = """
WITH u AS (SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
           FROM events GROUP BY 1),
p AS (SELECT DISTINCT n_events, max_value FROM u)
SELECT CAST(n_events AS BIGINT) AS n_events, max_value FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.n_events >= p.n_events AND q.max_value >= p.max_value
    AND (q.n_events > p.n_events OR q.max_value > p.max_value))
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability screen (ops/text.py:readability):
    integer-exact words / sentence-runs / vowel-group syllables and
    the milli-scaled reading-ease score, pure whole-stage-codegen
    projection."""
    return X.readability(_docs(spark, sf_dir))


Q_TEXT_READABILITY_SQL = r"""
WITH b AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sents, CAST(n_syll AS BIGINT) AS n_syllables,
       CASE WHEN n_words > 0
            THEN CAST(206835 - (1015 * n_words) // n_sents
                 - (84600 * n_syll) // n_words AS BIGINT) END AS flesch_milli
FROM b
"""


def q_ann_matryoshka_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix retrieval (ops/similarity.py:matryoshka_topk):
    exact cosine top-3 over the FIRST 16 embedding coordinates — the
    cheap tier of truncated-then-rerank tiered search. Same broadcast
    + TakeOrderedAndProject shape as ann_cosine_top3 at 16/d the
    dot-product cost."""
    e = _embs(spark, sf_dir)
    return S.matryoshka_topk(e, e.filter(F.col("vec_id") < 10), dims=16, k=3)


Q_ANN_MATRYOSHKA_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding[1:16] AS q_vec FROM embeddings
           WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding[1:16] AS c_vec FROM embeddings),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         round(CAST({_DUCK_COSINE} AS DOUBLE), 4) AS cosine_sim
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_lineitem_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (ops/joins.py:association_rules): part
    pairs co-ordered in >= 3 orders with integer-exact support and
    milli-scaled confidence/lift. Pair generation is a self-join on
    the ORDER key (work bounded by basket width^2), margins join back
    broadcast, ratios are integral division on count cross products."""
    from ukis_h3cellstore_spark.ops.joins import association_rules

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return association_rules(li, "l_orderkey", "l_partkey", min_pair_support=3)


Q_LINEITEM_COPURCHASE_SQL = """
WITH base AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
nb AS (SELECT COUNT(DISTINCT b) AS n FROM base),
items AS (SELECT i, COUNT(*) AS c FROM base GROUP BY 1),
pairs AS (SELECT l.i AS item_a, r.i AS item_b, COUNT(*) AS pair_n
          FROM base l JOIN base r ON l.b = r.b AND l.i < r.i
          GROUP BY 1,2 HAVING COUNT(*) >= 3)
SELECT CAST(item_a AS BIGINT) AS item_a, CAST(item_b AS BIGINT) AS item_b,
       CAST(pair_n AS BIGINT) AS pair_n,
       CAST(a.c AS BIGINT) AS a_n, CAST(b.c AS BIGINT) AS b_n,
       CAST((1000 * CAST(pair_n AS HUGEINT) * (SELECT n FROM nb))
            // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS lift_milli,
       CAST((1000 * pair_n) // a.c AS BIGINT) AS conf_milli
FROM pairs JOIN items a ON a.i = pairs.item_a
           JOIN items b ON b.i = pairs.item_b
"""


def q_part_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (ops/joins.py:fuzzy_join): part
    names deduplicated to one entity per distinct name (min partkey),
    blocked on their first token, verified with JVM-side Levenshtein
    <= 3 — the blocked record-linkage shape (candidates linear in
    block sizes, never corpus^2; exact-duplicate collapse first keeps
    the near-miss pair set name-sized). The skew pre-flight
    (max_block_share_milli=200) prices the block key before the join
    ships: the hottest first-token holds ~13% of names at both test
    SFs, under the cap — a skewed corpus raises BlockSkewExceeded
    instead of running a near-quadratic join."""
    from ukis_h3cellstore_spark.ops.joins import fuzzy_join

    pt = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    return fuzzy_join(
        pt, pt, "p_name", "name_id", max_distance=3,
        max_block_share_milli=200,
    )


Q_PART_FUZZY_SQL = r"""
WITH ent AS (SELECT p_name, MIN(p_partkey) AS id FROM part GROUP BY 1),
p AS (SELECT id, p_name AS t,
             regexp_split_to_array(trim(p_name), '\s+')[1] AS blk
      FROM ent)
SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
       a.t AS text_a, b.t AS text_b,
       CAST(levenshtein(a.t, b.t) AS INT) AS distance
FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
WHERE levenshtein(a.t, b.t) <= 3
"""


def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint (ops/robust.py:cusum_changepoint): per
    event_type, where the cumulative deviation from the series' own
    mean peaks — integer-exact (mean-centered cumsum scaled by n_g,
    decimal accumulators, integral division at the end), swept with
    the range-partition grouped cumsum."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops.robust import cusum_changepoint

    ev = _events(spark, sf_dir).select(
        "event_type",
        "event_id",
        "ts_us",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cusum_changepoint(ev, "event_type", ["ts_us", "event_id"], "cents")


Q_EVENTS_CUSUM_SQL = """
WITH c AS (SELECT event_type AS g, event_id, epoch_us(ts) AS ts_us,
                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
st AS (SELECT g, COUNT(*) AS ng, SUM(cents) AS sg FROM c GROUP BY 1),
dev AS (SELECT c.g, c.ts_us, c.event_id, st.ng,
               CAST(st.ng AS HUGEINT) * c.cents - st.sg AS d
        FROM c JOIN st USING (g)),
sw AS (SELECT g, ng, ts_us,
              SUM(d) OVER (PARTITION BY g ORDER BY ts_us, event_id) AS s
       FROM dev),
pk AS (SELECT g, ng, ts_us, ABS(s) AS a,
              row_number() OVER (PARTITION BY g
                  ORDER BY ABS(s) DESC, ts_us ASC) AS rn
       FROM sw)
SELECT g AS event_type, CAST(ng AS BIGINT) AS n_group,
       CAST(a // ng AS BIGINT) AS peak_abs_dev,
       CAST(ts_us AS BIGINT) AS peak_ts_us
FROM pk WHERE rn = 1
"""


def q_corpus_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (ops/report.py:psi_drift): per
    source, PSI of the doc token-count distribution vs the pooled
    corpus over fixed bins [30, 50, 70, 90] with Laplace smoothing —
    the standard "has this source's length profile moved" drift
    score."""
    from ukis_h3cellstore_spark.ops.report import psi_drift

    docs = _docs(spark, sf_dir).select(
        "source", F.size(X.tokens("text")).cast("long").alias("n_tokens")
    )
    return psi_drift(docs, "source", "n_tokens", [30.0, 50.0, 70.0, 90.0])


Q_CORPUS_PSI_SQL = r"""
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


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point HITS (ops/graph.py:hits, 3 iterations) over the
    DIRECTED user -> event_type interaction graph: users are hubs,
    event types are authorities — Kleinberg's bipartite quality
    transfer. Integer-exact (per-round renormalization by floor
    division in decimal products), bit-matched by the unrolled
    oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return G.hits(edges, iterations=3)


def _hits_oracle_sql(iterations: int = 3) -> str:
    """Unrolled HITS power iteration matching ops/graph.hits."""
    parts = [
        "WITH e AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,"
        " 't' || event_type AS dst FROM events),",
        "nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS hub_fp FROM nd),",
    ]
    for i in range(1, iterations + 1):
        parts += [
            f"a{i}r AS (SELECT e.dst AS node, SUM(h.hub_fp) AS raw"
            f" FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY 1),",
            f"a{i}t AS (SELECT SUM(raw) AS tot FROM a{i}r),",
            f"a{i} AS (SELECT nd.node,"
            f" CAST(CAST(COALESCE(r.raw, 0) AS HUGEINT) * 1000000000"
            f" // (SELECT tot FROM a{i}t) AS BIGINT) AS auth_fp"
            f" FROM nd LEFT JOIN a{i}r r USING (node)),",
            f"h{i}r AS (SELECT e.src AS node, SUM(a.auth_fp) AS raw"
            f" FROM e JOIN a{i} a ON e.dst = a.node GROUP BY 1),",
            f"h{i}t AS (SELECT SUM(raw) AS tot FROM h{i}r),",
            f"h{i} AS (SELECT nd.node,"
            f" CAST(CAST(COALESCE(r.raw, 0) AS HUGEINT) * 1000000000"
            f" // (SELECT tot FROM h{i}t) AS BIGINT) AS hub_fp"
            f" FROM nd LEFT JOIN h{i}r r USING (node)),",
        ]
    body = "\n".join(parts).rstrip(",")
    return (
        f"{body}\nSELECT nd.node, h.hub_fp, a.auth_fp FROM nd"
        f" JOIN h{iterations} h USING (node)"
        f" JOIN a{iterations} a USING (node)"
    )


Q_GRAPH_HITS_SQL = _hits_oracle_sql(3)


def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (ops/report.py:rfm_segments): per customer,
    recency = latest order epoch, frequency = order count, monetary =
    lifetime cents; integer-exact quintiles from three
    range-partitioned rank sweeps."""
    from ukis_h3cellstore_spark.ops.report import rfm_segments

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = od.groupBy("o_custkey").agg(
        F.max(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        ).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mon"),
    )
    return rfm_segments(cust, "o_custkey", "rec", "freq", "mon")


Q_ORDERS_RFM_SQL = """
WITH c AS (SELECT o_custkey, MAX(epoch_us(o_orderdate)) AS rec,
                  COUNT(*) AS freq,
                  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon
           FROM orders GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM c),
rk AS (SELECT o_custkey,
              row_number() OVER (ORDER BY rec, o_custkey) AS rr,
              row_number() OVER (ORDER BY freq, o_custkey) AS fr,
              row_number() OVER (ORDER BY mon, o_custkey) AS mr
       FROM c)
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(1 + ((rr - 1) * 5) // (SELECT n FROM n) AS INT) AS r_score,
       CAST(1 + ((fr - 1) * 5) // (SELECT n FROM n) AS INT) AS f_score,
       CAST(1 + ((mr - 1) * 5) // (SELECT n FROM n) AS INT) AS m_score,
       CAST((1 + ((rr - 1) * 5) // (SELECT n FROM n)) * 100
            + (1 + ((fr - 1) * 5) // (SELECT n FROM n)) * 10
            + (1 + ((mr - 1) * 5) // (SELECT n FROM n)) AS INT) AS segment
FROM rk
"""


def q_corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic (ops/text.py:zipf_slope): OLS slope of
    ln(freq) on ln(rank) over the top-200 vocabulary — natural text
    sits near -1, templated corpora flatten. Rank via the
    range-partitioned global_rank; the fit is a bounded 200-point
    reduction."""
    return X.zipf_slope(_docs(spark, sf_dir), top_n=200)


Q_CORPUS_ZIPF_SQL = r"""
WITH v AS (SELECT t.term, COUNT(*) AS freq
           FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                 AS term FROM documents) t
           WHERE t.term <> '' GROUP BY 1),
rk AS (SELECT term, freq,
              row_number() OVER (ORDER BY freq DESC, term ASC) AS r
       FROM v),
pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
        FROM rk WHERE r <= 200),
agg AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
SELECT CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept
FROM agg
"""


def q_corpus_score_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorer-agreement audit (ops/robust.py:spearman_milli): Spearman
    rank correlation between document length (tokens) and the Flesch
    readability score — the "is my quality signal just a length
    proxy" check. Integer-exact tie-broken rho in milli units from two
    range-partitioned rank sweeps."""
    from ukis_h3cellstore_spark.ops.robust import spearman_milli

    d = _docs(spark, sf_dir)
    r = X.readability(d).filter(F.col("n_words") > 0).select(
        "doc_id", "n_words", "flesch_milli"
    )
    return spearman_milli(r, "n_words", "flesch_milli", "doc_id")


Q_CORPUS_RANK_CORR_SQL = r"""
WITH b AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
  FROM documents),
sc AS (SELECT doc_id, n_words,
              206835 - (1015 * n_words) // n_sents
              - (84600 * n_syll) // n_words AS flesch_milli
       FROM b WHERE n_words > 0),
rk AS (SELECT doc_id,
              row_number() OVER (ORDER BY n_words, doc_id) AS rx,
              row_number() OVER (ORDER BY flesch_milli, doc_id) AS ry
       FROM sc),
agg AS (SELECT COUNT(*) AS n,
               SUM(CAST((rx - ry) AS HUGEINT) * (rx - ry)) AS sd2
        FROM rk)
SELECT CAST(n AS BIGINT) AS n,
       CAST((1000 * (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
             - 6 * sd2))
            // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
            AS BIGINT) AS rho_milli
FROM agg
"""


def q_dedup_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit (ops/dedup.py:minhash_estimate_error):
    |signature-estimated - exact| Jaccard in milli over the LSH
    candidates, one summary row — the "is 8 hashes enough" check run
    before trusting est_jaccard as a dedup threshold."""
    return D.minhash_estimate_error(_docs(spark, sf_dir), min_est_jaccard=0.25)


def _q_dedup_minhash_error_sql() -> str:
    return f"""
WITH cand AS ({_q_dedup_minhash_lsh_sql()}),
sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
err AS (
  SELECT ABS((1000 * CAST(round(c.est_jaccard * 8) AS BIGINT)) // 8
             - (1000 * m.n_common)
               // (sa.n_sh + sb.n_sh - m.n_common)) AS e
  FROM cand c
  JOIN common m ON m.id_a = c.id_a AND m.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(e) // COUNT(*) AS BIGINT) AS mean_abs_err_milli,
       CAST(MAX(e) AS BIGINT) AS max_abs_err_milli
FROM err
"""


def q_part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/95) revenue classification
    (ops/prefix.py:global_cumsum): parts ranked by lineitem revenue,
    cumulative share in milli by integral division, class A while the
    RUNNING share <= 800, B <= 950, else C — summarized per class.
    The cumulative sweep is the range-partitioned broadcast-offset
    cumsum; no one-task global window."""
    from ukis_h3cellstore_spark.ops.prefix import global_cumsum

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("cents")
    ).withColumn("__negc", -F.col("cents"))
    cum = global_cumsum(rev, ["__negc", "l_partkey"], "cents", out_col="__cum")
    tot = rev.agg(F.sum("cents").alias("__tot"))
    classed = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "__share_milli", F.expr("(1000 * __cum) div __tot").cast("long")
        )
        .withColumn(
            "abc_class",
            F.when(F.col("__share_milli") <= 800, F.lit("A"))
            .when(F.col("__share_milli") <= 950, F.lit("B"))
            .otherwise(F.lit("C")),
        )
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


Q_PART_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(cents) AS t FROM rev),
cum AS (
  SELECT l_partkey, cents,
         SUM(cents) OVER (ORDER BY -cents, l_partkey) AS c
  FROM rev
),
cls AS (
  SELECT cents,
         CASE WHEN (1000 * c) // (SELECT t FROM tot) <= 800 THEN 'A'
              WHEN (1000 * c) // (SELECT t FROM tot) <= 950 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM cls GROUP BY 1
"""


_BENFORD_MILLI = [301, 176, 124, 96, 79, 66, 57, 51, 45]


def q_events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law fraud/synthetic-data screen: leading digit of the
    integer cents of each positive event value (digit from the decimal
    string — identical in any engine, no float log), observed share in
    milli by integral division, against the Benford expectation as
    precomputed integer constants. Pure counting; one aggregation."""
    from ukis_h3cellstore_spark.entry_queries import _events

    ev = _events(spark, sf_dir).select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    ).filter(F.col("cents") > 0)
    dig = ev.select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias(
            "digit"
        )
    )
    counts = dig.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("__t"))
    bf = F.create_map(
        *[
            x
            for d, m in enumerate(_BENFORD_MILLI, start=1)
            for x in (F.lit(d), F.lit(m))
        ]
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.expr("(1000 * n) div __t").cast("long").alias("obs_milli"),
            F.element_at(bf, F.col("digit")).cast("long").alias(
                "benford_milli"
            ),
        )
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {m}" for d, m in enumerate(_BENFORD_MILLI, start=1)
)

Q_EVENTS_BENFORD_SQL = f"""
WITH c AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
  WHERE CAST(round(value * 100) AS BIGINT) > 0
),
d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM c),
cnt AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM cnt)
SELECT digit, CAST(n AS BIGINT) AS n,
       CAST((1000 * n) // (SELECT t FROM tot) AS BIGINT) AS obs_milli,
       CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS benford_milli
FROM cnt
"""


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence audit (ops/sessions.py:markov_transitions): per-user
    event-type transition matrix with integral conditional
    probabilities — consecutive pairs from a per-user lead window
    (parallel across users), one (from, to) aggregation, broadcast
    row totals."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops.sessions import markov_transitions

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    return markov_transitions(
        ev, "user_id", ["ts_us", "event_id"], "event_type"
    )


Q_EVENTS_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS from_state,
         lead(event_type) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS to_state
  FROM events
),
cnt AS (
  SELECT from_state, to_state, COUNT(*) AS n
  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_state, SUM(n) AS row_total FROM cnt GROUP BY 1)
SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) AS n_transitions,
       CAST(t.row_total AS BIGINT) AS row_total,
       CAST((1000 * c.n) // t.row_total AS BIGINT) AS cond_milli
FROM cnt c JOIN tot t USING (from_state)
"""


def q_corpus_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration audit (ops/robust.py:gini_by_group): per-source
    Gini of document token counts in milli — integer-exact via the
    rank-weighted identity over one range-partitioned rank sweep."""
    from ukis_h3cellstore_spark.ops.robust import gini_by_group

    lens = _docs(spark, sf_dir).select(
        "source", "doc_id", F.size(X.tokens("text")).cast("long").alias("nt")
    )
    return gini_by_group(lens, "source", "nt", "doc_id")


Q_CORPUS_GINI_SQL = r"""
WITH lens AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS nt
  FROM documents
),
rk AS (
  SELECT source, nt,
         row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS i
  FROM lens
),
agg AS (
  SELECT source, COUNT(*) AS n, SUM(nt) AS sx,
         SUM(CAST(i AS HUGEINT) * nt) AS six
  FROM rk GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_group,
       CAST((1000 * (2 * six - (n + 1) * CAST(sx AS HUGEINT)))
            // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_milli
FROM agg
"""


def q_corpus_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-drift audit (ops/text.py:js_divergence_by_source):
    Jensen-Shannon divergence in nats between each source's token
    distribution and the pooled corpus — absent-term mass folded in
    closed form, no vocab x source grid."""
    return X.js_divergence_by_source(_docs(spark, sf_dir))


Q_CORPUS_JSD_SQL = r"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
  FROM documents
),
cells AS (SELECT source, t, COUNT(*) AS c FROM toks WHERE t <> ''
          GROUP BY 1, 2),
grp AS (SELECT source, SUM(c) AS ng FROM cells GROUP BY 1),
pooled AS (SELECT t, SUM(c) AS cp FROM cells GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cells),
j AS (
  SELECT cells.source, grp.ng,
         cells.c / CAST(grp.ng AS DOUBLE) AS p,
         pooled.cp / CAST((SELECT n FROM tot) AS DOUBLE) AS q
  FROM cells JOIN pooled USING (t) JOIN grp USING (source)
)
SELECT source, CAST(ng AS BIGINT) AS n_tokens,
       round(SUM(0.5 * p * ln(p / ((p + q) / 2.0))
                 + 0.5 * q * ln(q / ((p + q) / 2.0)))
             + 0.5 * 0.6931471805599453 * (1.0 - SUM(q)), 6) AS jsd_nats
FROM j GROUP BY source, ng
"""


_DUCK_L2SQ = """
list_reduce(list_transform(list_zip(a.c_vec, q.q_vec),
            x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
            (s, v) -> s + v)
"""


def q_embedding_two_nn_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic-dimension audit (ops/similarity.py:
    two_nn_intrinsic_dim): Facco et al. Two-NN MLE over the exact
    1st/2nd L2 neighbors of 200 audit vectors — the compression-
    headroom number that guides PQ/JL parameter choices."""
    e = _embs(spark, sf_dir)
    return S.two_nn_intrinsic_dim(e, e.filter(F.col("vec_id") < 200))


Q_EMBEDDING_TWO_NN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 200),
     c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         round(CAST({_DUCK_L2SQ} AS DOUBLE), 4) AS d2
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM scored
),
wide AS (
  SELECT query_id,
         MAX(CASE WHEN rank = 1 THEN d2 END) AS d1,
         MAX(CASE WHEN rank = 2 THEN d2 END) AS d2_
  FROM ranked WHERE rank <= 2 GROUP BY 1
),
terms AS (
  SELECT 0.5 * ln(d2_ / d1) AS t FROM wide
  WHERE d1 > 0 AND d2_ IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(SUM(t) / COUNT(*), 6) AS mean_ln_ratio,
       round(COUNT(*) / SUM(t), 6) AS lid_estimate
FROM terms
"""


def q_events_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve (ops/sessions.py:survival_at_horizons): the
    share of per-user return gaps exceeding 1h / 6h / 24h, integral
    milli — the assumption-free churn statistic."""
    from ukis_h3cellstore_spark.entry_queries import _events
    from ukis_h3cellstore_spark.ops.sessions import survival_at_horizons

    ev = _events(spark, sf_dir).select("user_id", "ts_us")
    hour = 3_600_000_000
    return survival_at_horizons(
        ev, "user_id", "ts_us", [hour, 6 * hour, 24 * hour]
    )


Q_EVENTS_GAP_SURVIVAL_SQL = """
WITH g AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
         ) AS gap
  FROM events
),
gaps AS (SELECT gap FROM g WHERE gap IS NOT NULL),
h AS (SELECT unnest([3600000000, 21600000000, 86400000000]) AS horizon)
SELECT CAST(h.horizon AS BIGINT) AS horizon,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(CASE WHEN gap > h.horizon THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving,
       CAST((1000 * SUM(CASE WHEN gap > h.horizon THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS survival_milli
FROM gaps CROSS JOIN h
GROUP BY 1
"""


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content/function-word discriminator (ops/text.py:
    term_burstiness): variance-to-mean ratio of per-doc counts for the
    top-20 terms, integer-exact milli — Poisson-ish VMR ~ 1000 means
    function word, VMR >> 1000 means topical/bursty."""
    return X.term_burstiness(_docs(spark, sf_dir), top_n=20)


Q_TEXT_BURSTINESS_SQL = r"""
WITH pairs AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        FROM documents)
  WHERE t <> '' GROUP BY 1, 2
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
stats AS (
  SELECT t, SUM(c) AS s1, SUM(CAST(c AS HUGEINT) * c) AS s2,
         COUNT(*) AS ndw
  FROM pairs GROUP BY 1
),
top AS (SELECT * FROM stats ORDER BY s1 DESC, t ASC LIMIT 20)
SELECT t AS term, CAST(s1 AS BIGINT) AS total_count,
       CAST(ndw AS BIGINT) AS n_docs_with,
       CAST((1000 * ((SELECT n FROM nd) * s2 - CAST(s1 AS HUGEINT) * s1))
            // ((SELECT n FROM nd) * CAST(s1 AS HUGEINT)) AS BIGINT)
         AS vmr_milli
FROM top
"""


def q_corpus_surprisal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source perplexity-outlier screen — the composed daily gate:
    integer-exact unigram surprisal per doc (ops/text.py:
    unigram_surprisal) fed into the robust per-source median/MAD
    outlier flag (ops/robust.py:mad_outliers), summarized per source.
    Flags rare-token junk AND implausibly-flat boilerplate relative to
    each source's own distribution."""
    from ukis_h3cellstore_spark.ops import robust as R

    d = _docs(spark, sf_dir)
    sc = X.unigram_surprisal(d).join(d.select("doc_id", "source"), "doc_id")
    out = R.mad_outliers(sc, "source", "avg_surprisal_milli", k=3.5)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.first("median"), 4).alias("median"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
    )


Q_CORPUS_SURPRISAL_OUTLIERS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS t
  FROM documents
),
tokf AS (SELECT doc_id, t FROM tok WHERE length(t) > 0),
freq AS (SELECT t, COUNT(*) AS c FROM tokf GROUP BY 1),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM freq),
sc AS (
  SELECT tokf.doc_id,
         CAST((1000 * SUM(length(bin(total)) - length(bin(c))))
              // COUNT(*) AS BIGINT) AS v
  FROM tokf JOIN freq USING (t) CROSS JOIN total
  GROUP BY 1
),
vs AS (SELECT d.source, sc.v FROM sc JOIN documents d USING (doc_id)),
r AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM vs
),
med AS (
  SELECT source, ANY_VALUE(n) AS n, SUM(v) / COUNT(*) AS median
  FROM r WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2 GROUP BY 1
),
d2 AS (
  SELECT vs.source, abs(vs.v - m.median) AS dev
  FROM vs JOIN med m USING (source)
),
r2 AS (
  SELECT source, dev,
         row_number() OVER (PARTITION BY source ORDER BY dev) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n2
  FROM d2
),
mad AS (
  SELECT source, SUM(dev) / COUNT(*) AS mad
  FROM r2 WHERE rk = (n2 + 1) // 2 OR rk = (n2 + 2) // 2 GROUP BY 1
)
SELECT m.source,
       CAST(m.n AS BIGINT) AS n_docs,
       round(m.median, 4) AS median,
       round(x.mad, 4) AS mad,
       CAST(SUM(CASE WHEN d2.dev > 3.5 * x.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d2 JOIN med m USING (source) JOIN mad x USING (source)
GROUP BY 1, 2, 3, 4
"""


def q_multimodal_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup e2e (the composed pipeline over gated pieces):
    perceptual hashes -> banded hamming candidate pairs
    (multimodal_phash_pairs) -> min-label connected components ->
    one row per duplicate-media cluster with size and max member."""
    payloads = M.attach_binary_payload(_docs(spark, sf_dir))
    pairs = M.phash_dup_pairs(payloads, max_hamming=4).select("id_a", "id_b")
    return D.duplicate_cluster_stats(pairs)


Q_MULTIMODAL_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({Q_MULTIMODAL_PHASH_SQL}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
SELECT CAST(component AS BIGINT) AS component, COUNT(*) AS n_members,
       CAST(MAX(node) AS BIGINT) AS max_member
FROM comp GROUP BY 1
"""


def q_ann_tiered_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered retrieval e2e (ops/similarity.py:tiered_rerank): prefix-16
    cosine shortlists 20 candidates per query, full-width rerank keeps
    top-3 — the matryoshka production pipeline where full-dimension
    scoring touches shortlist-sized data only."""
    e = _embs(spark, sf_dir)
    return S.tiered_rerank(
        e, e.filter(F.col("vec_id") < 10), dims=16, shortlist_k=20, k=3
    )


Q_ANN_TIERED_RERANK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding[1:16] AS c_vec
           FROM embeddings),
     qp AS (SELECT query_id, q_vec[1:16] AS q_vec FROM q),
pre AS (
  SELECT qp.query_id, a.neighbor_id,
         round(CAST(
list_reduce(list_transform(list_zip(a.c_vec, qp.q_vec),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, v) -> s + v)
/ (sqrt(list_reduce(list_transform(a.c_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        (s, v) -> s + v))
   * sqrt(list_reduce(list_transform(qp.q_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        (s, v) -> s + v)))
 AS DOUBLE), 4) AS pre_sim
  FROM c a, qp WHERE a.neighbor_id <> qp.query_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY pre_sim DESC, neighbor_id ASC) AS prerank
    FROM pre
  ) WHERE prerank <= 20
),
fullsc AS (
  SELECT s.query_id, s.neighbor_id,
         round(CAST(
list_reduce(list_transform(list_zip(a.embedding, q.q_vec),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, v) -> s + v)
/ (sqrt(list_reduce(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        (s, v) -> s + v))
   * sqrt(list_reduce(list_transform(q.q_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        (s, v) -> s + v)))
 AS DOUBLE), 4) AS cosine_sim
  FROM short s
  JOIN embeddings a ON a.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM fullsc
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_corpus_w1_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transport-cost drift (ops/robust.py:w1_vs_rest): Wasserstein-1
    distance between each source's token-count distribution and the
    pooled corpus, integer-exact in micro token units — the integral
    complement of the KS max-deviation score (a uniform small shift
    scores higher than one local spike)."""
    from ukis_h3cellstore_spark.ops.robust import w1_vs_rest

    lens = _docs(spark, sf_dir).select(
        "source", F.size(X.tokens("text")).cast("long").alias("nt")
    )
    out = w1_vs_rest(lens, "source", "nt", scale=1_000_000)
    return out.select(
        "source", "n_group", F.col("w1_scaled").alias("w1_micro")
    )


Q_CORPUS_W1_SQL = r"""
WITH lens AS (
  SELECT source AS g,
         len(regexp_split_to_array(trim(text), '\s+')) AS v
  FROM documents
),
cnt AS (SELECT v, g, COUNT(*) AS c FROM lens GROUP BY 1, 2),
perval AS (SELECT v, SUM(c) AS cv FROM cnt GROUP BY 1),
pooled AS (SELECT v, SUM(cv) OVER (ORDER BY v) AS cpool,
                  lead(v) OVER (ORDER BY v) AS vnext
           FROM perval),
grp AS (SELECT g, SUM(c) AS n_group FROM cnt GROUP BY 1),
tot AS (SELECT SUM(n_group) AS n_all FROM grp),
grid AS (SELECT p.v, p.cpool, COALESCE(p.vnext - p.v, 0) AS dv,
                gr.g, gr.n_group, COALESCE(c.c, 0) AS cellc
         FROM pooled p CROSS JOIN grp gr
         LEFT JOIN cnt c ON c.v = p.v AND c.g = gr.g),
gcum AS (SELECT v, g, cpool, dv, n_group,
                SUM(cellc) OVER (PARTITION BY g ORDER BY v) AS cgrp
         FROM grid),
w AS (SELECT g, n_group,
             SUM(ABS(CAST(cgrp AS HUGEINT) * (SELECT n_all FROM tot)
                     - CAST(cpool AS HUGEINT) * n_group)
                 * CAST(dv AS HUGEINT)) AS wnum
      FROM gcum GROUP BY 1, 2)
SELECT g AS source, CAST(n_group AS BIGINT) AS n_group,
       CAST((wnum * 1000000) // (CAST(n_group AS HUGEINT)
            * (SELECT n_all FROM tot)) AS BIGINT) AS w1_micro
FROM w
"""


def q_text_code_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing screen (ops/text.py:code_score):
    integer-exact structural milli ratios (symbols, braces, digits)
    and the composite heuristic — the pre-router corpus pipelines run
    before language-specific processing. Pure codegen projection."""
    return X.code_score(_docs(spark, sf_dir))


Q_TEXT_CODE_SCORE_SQL = r"""
WITH b AS (
  SELECT doc_id, length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
           AS n_symbols,
         length(text) - length(regexp_replace(text, '[{}()\[\];=]', '', 'g'))
           AS n_braces,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digits
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, n_symbols, n_braces, n_digits,
         CASE WHEN n_chars > 0 THEN (1000 * n_symbols) // n_chars END
           AS symbol_milli,
         CASE WHEN n_chars > 0 THEN (1000 * n_braces) // n_chars END
           AS brace_milli,
         CASE WHEN n_chars > 0 THEN (1000 * n_digits) // n_chars END
           AS digit_milli
  FROM b
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_symbols AS BIGINT) AS n_symbols,
       CAST(n_braces AS BIGINT) AS n_braces,
       CAST(n_digits AS BIGINT) AS n_digits,
       CAST(symbol_milli AS BIGINT) AS symbol_milli,
       CAST(brace_milli AS BIGINT) AS brace_milli,
       CAST(digit_milli AS BIGINT) AS digit_milli,
       CAST(brace_milli + (symbol_milli // 2) + (digit_milli // 4) AS BIGINT)
         AS code_score_milli
FROM m
"""


# ---------------------------------------------------------------------------
# round 9 additions: the composed curation flagship + cross-linkage fuzzy join
# ---------------------------------------------------------------------------


def q_corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end curation run — the whole training-data
    curation loop as ONE verified composition of the gated pieces:

    1. CLEAN (ops/text.py: gopher_quality_flags): keep documents
       passing the Gopher measurements that discriminate on this
       corpus — n_words >= 50, mean word length in [3, 10], alphabetic
       word fraction >= 0.8 (the stop-word rule is omitted: the
       synthetic corpus has no English stop words, so it would zero
       the funnel rather than filter it).
    2. DEDUP (ops/dedup.py: minhash_lsh_pairs → excise_shared_spans):
       MinHash-LSH near-dup candidates at est_jaccard >= 0.25 drop the
       HIGHER doc_id of each pair (keep-first), then every exact
       shared >= 8-token run among survivors is excised from the
       higher-id doc (Lee et al. spans).
    3. DRIFT GATE (ops/report.py: psi_drift): per-source PSI of the
       post-excision token-count distribution vs the pooled corpus
       (fixed edges 30/50/70/90); the 3 highest-PSI sources are
       quarantined (rank-based — load-bearing at every SF, unlike an
       absolute threshold which saturates as n grows).
    4. MIX (ops/sampling.py: balanced_sample_by_group): topic-balance
       the survivors over the embedding ``label`` (doc_id == vec_id),
       integer salted-hash keep test, salt "cure9".
    5. PACK+SHARD (ops/sampling.py: pack_documents + layout.
       write_jsonl_shards): pack the mixed corpus into 512-token
       windows over 8 shards, export as JSON-line shards, and report
       per-(shard, bin) stats from the READ-BACK export — the shard
       write/read roundtrip is inside the verified chain.

    Every stage changes the survivor set, so the final (shard, bin)
    hash is load-bearing for all five stages. Scale posture: each
    stage is the already-audited plan of its gated operator — banded
    candidate joins, inverted-index span extents, groups-sized PSI
    grid, broadcast count joins, one window per shard key — composed
    without any new shuffle shape."""
    from ukis_h3cellstore_spark import layout as L
    from ukis_h3cellstore_spark.entry_queries import _stable_tmpdir
    from ukis_h3cellstore_spark.ops.report import psi_drift

    # spread: the gopher-clean frame is barriered below, so its
    # measurement expressions (and the downstream shingle explodes
    # reading the checkpoint blocks) inherit the scan's partitioning
    docs = _docs(spark, sf_dir, spread=True)
    g = X.gopher_quality_flags(docs).select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_frac"
    )
    clean = (
        docs.join(g, on="doc_id")
        .filter(
            (F.col("n_words") >= 50)
            & F.col("mean_word_len").between(3.0, 10.0)
            & (F.col("alpha_word_frac") >= 0.8)
        )
        .select("doc_id", "text", "source")
        # barrier: the gopher predicate embeds the full measurement
        # expressions; without it every consumer branch (LSH shingles,
        # survivor anti-join, excision, lens join) re-evaluates them
        # at the scan — 5 filter sites in the before plan
        .localCheckpoint(eager=False)
    )
    # budget-armed (r13): the bucket-stats pre-flight prices the LSH
    # candidate volume before the self-join; 10M pairs is far above
    # any sf's structure, so the gate result is byte-identical — the
    # contract is that a boilerplate-saturated corpus would tighten
    # here instead of running a quadratic join unpriced
    dropped = (
        D.minhash_lsh_pairs(
            clean, min_est_jaccard=0.25, pair_budget=10_000_000
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    clean = _probe("stage1 gopher-clean", clean)
    # barrier: surv feeds THREE sites (the excision's extents chain,
    # its token side, and the lens source join) — without it the LSH
    # self-join + distinct + anti-join re-execute per reference
    surv = clean.join(dropped, on="doc_id", how="left_anti").localCheckpoint(
        eager=False
    )
    exc = D.excise_shared_spans(surv, k=5, min_span=8)
    # the clean→LSH→excision lineage fans out to FOUR consumers (PSI,
    # quarantine, mix, pack/export); materialize it once — without
    # this the whole span-excision chain re-executes per reference
    # (the multi-reference trap, docs/SCALE.md; measured 23 s → ~6 s
    # on the sf0.1 bench entry)
    lens = (
        exc.select(
            "doc_id",
            "text_clean",
            (F.col("n_tokens") - F.col("n_cut")).alias("nt"),
        )
        .join(surv.select("doc_id", "source"), on="doc_id")
        .localCheckpoint(eager=True)
    )
    lens = _probe("stage2 lsh-dedup+excise", lens)
    psi = psi_drift(lens, "source", "nt", [30.0, 50.0, 70.0, 90.0])
    worst = (
        psi.orderBy(F.desc("psi"), F.asc("source")).limit(3).select("source")
    )
    kept = _probe(
        "stage3 psi-quarantine",
        lens.join(F.broadcast(worst), on="source", how="left_anti"),
    )
    topical = kept.join(
        _embs(spark, sf_dir).select(
            F.col("vec_id").alias("doc_id"), "label"
        ),
        on="doc_id",
    )
    mixed = (
        SM.balanced_sample_by_group(
            topical, "label", id_col="doc_id", salt="cure9"
        )
        .filter(F.col("keep"))
        .select("doc_id", F.col("text_clean").alias("text"))
        .localCheckpoint(eager=True)  # read by pack AND the export join
    )
    mixed = _probe("stage4 balanced-mix", mixed)
    packed = SM.pack_documents(mixed, max_tokens=512, num_shards=8)
    export = mixed.join(packed, on="doc_id").select(
        "doc_id", "shard", "n_tokens", "bin", "text"
    )
    path = _stable_tmpdir("cure_", sf_dir)
    L.write_jsonl_shards(export.repartition(8), path, docs_per_shard=2000)
    # explicit shared schema + FAILFAST: inference is a full parse
    # pass over the export (one read instead of two, guide §6), and
    # FAILFAST makes any drift in the exported columns fail loudly
    # instead of PERMISSIVE's silent nulls
    back = (
        spark.read.schema(_PACK_EXPORT_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
    )
    return (
        back.groupBy(
            F.col("shard").cast("int").alias("shard"),
            F.col("bin").cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "fill_ratio", F.round(F.col("total_tokens") / F.lit(512.0), 4)
        )
    )


def _q_corpus_curation_e2e_sql() -> str:
    """Oracle composed from the proven per-stage fragments: the Gopher
    measurement CTE, the minhash band join, the e2e span-excision
    chain, the PSI grid, the integer balanced-keep test, and the
    tp_base/tp_packed packing arithmetic."""
    mins = ", ".join(f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8))
    band_conds = " OR ".join(
        "("
        + " AND ".join(f"a.m{i} = b.m{i}" for i in range(b * 2, b * 2 + 2))
        + ")"
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH g AS ({Q_TEXT_GOPHER_SQL}),
clean AS (
  SELECT d.doc_id, d.text, d.source FROM documents d JOIN g USING (doc_id)
  WHERE g.n_words >= 50 AND g.mean_word_len BETWEEN 3.0 AND 10.0
    AND g.alpha_word_frac >= 0.8
),
csh AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM clean) t,
       unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
sig AS (SELECT doc_id, {mins} FROM csh GROUP BY doc_id),
dropped AS (
  SELECT DISTINCT b.doc_id
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_conds})
  WHERE ({eq_sum}) / 8.0 >= 0.25
),
surv AS (SELECT * FROM clean
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM surv),
pos AS (SELECT doc_id, generate_subscripts(t, 1) AS i, t FROM toks),
gg AS (SELECT doc_id, i, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
       FROM pos WHERE i + 4 <= len(t)),
mm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i - b.i AS diag, a.i AS pa
       FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
isl AS (SELECT id_a, id_b, diag, pa,
               pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                       ORDER BY pa) AS grp
        FROM mm),
runs AS (SELECT id_a, id_b, diag, grp, COUNT(*) AS cnt,
                MIN(pa) AS pstart, MAX(pa) AS pend
         FROM isl GROUP BY 1, 2, 3, 4),
drun AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b, diag
                                      ORDER BY cnt DESC, pstart ASC) AS rn
         FROM runs),
cuts AS (SELECT id_b AS doc_id, pstart - diag AS b_start,
                pend + 4 - diag AS b_end
         FROM drun WHERE rn = 1 AND cnt + 4 >= 8),
tok_rows AS (SELECT doc_id, i AS p, t[i] AS w FROM pos),
marked AS (
  SELECT tr.doc_id, tr.p, tr.w,
         EXISTS (SELECT 1 FROM cuts c
                 WHERE c.doc_id = tr.doc_id
                   AND tr.p BETWEEN c.b_start AND c.b_end) AS cut
  FROM tok_rows tr
),
exc AS (
  SELECT doc_id,
         COALESCE(string_agg(w, ' ' ORDER BY p) FILTER (WHERE NOT cut), '')
           AS text_clean,
         CAST(COUNT(*) FILTER (WHERE NOT cut) AS BIGINT) AS nt
  FROM marked GROUP BY doc_id
),
lens AS (SELECT e.doc_id, s.source, e.nt, e.text_clean
         FROM exc e JOIN surv s USING (doc_id)),
lb AS (SELECT source, CASE WHEN nt < 30 THEN 0 WHEN nt < 50 THEN 1
                           WHEN nt < 70 THEN 2 WHEN nt < 90 THEN 3
                           ELSE 4 END AS bin
       FROM lens),
cells AS (SELECT source, bin, COUNT(*) AS c FROM lb GROUP BY 1, 2),
grp AS (SELECT source, SUM(c) AS ng FROM cells GROUP BY 1),
pool AS (SELECT bin, SUM(c) AS cp FROM cells GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cells),
bins AS (SELECT unnest(range(5)) AS bin),
grid AS (SELECT gr.source, gr.ng, bi.bin, COALESCE(cells.c, 0) AS c,
                COALESCE(pool.cp, 0) AS cp
         FROM grp gr CROSS JOIN bins bi
         LEFT JOIN cells ON cells.source = gr.source AND cells.bin = bi.bin
         LEFT JOIN pool ON pool.bin = bi.bin),
psi AS (
  SELECT source,
         round(SUM(((c+1)/CAST(ng+5 AS DOUBLE)
                    - (cp+1)/CAST((SELECT n FROM tot)+5 AS DOUBLE))
               * ln(((c+1)/CAST(ng+5 AS DOUBLE))
                    / ((cp+1)/CAST((SELECT n FROM tot)+5 AS DOUBLE)))), 6)
           AS psi
  FROM grid GROUP BY 1
),
worst AS (SELECT source FROM psi ORDER BY psi DESC, source ASC LIMIT 3),
kept AS (SELECT l.* FROM lens l
         WHERE l.source NOT IN (SELECT source FROM worst)),
topical AS (
  SELECT k.doc_id, k.text_clean, e.label
  FROM kept k JOIN embeddings e ON e.vec_id = k.doc_id
),
counts AS (SELECT label, COUNT(*) AS n_group FROM topical GROUP BY 1),
mn AS (SELECT MIN(n_group) AS n_min FROM counts),
mixed AS (
  SELECT t.doc_id, t.text_clean
  FROM topical t JOIN counts USING (label), mn
  WHERE ((('0x' || substr(md5('cure9' || '|' || CAST(t.doc_id AS VARCHAR)),
                          1, 15))::BIGINT % 1048576) * counts.n_group
         < mn.n_min * 1048576)
),
tp_base AS (
  SELECT doc_id,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8) AS INT) AS shard,
         CAST(CASE WHEN length(trim(text_clean)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text_clean), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM mixed),
tp_packed AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS bin_offset
  FROM tp_base)
SELECT shard, CAST(bin_offset // 512 AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(SUM(n_tokens) / 512.0, 4) AS fill_ratio
FROM tp_packed GROUP BY 1, 2
"""


Q_CORPUS_CURATION_E2E_SQL = _q_corpus_curation_e2e_sql()


def q_multimodal_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed MULTIMODAL curation flagship — five stages, one
    verified hash, the image-text twin of corpus_curation_e2e:

    1. MEDIA NEAR-DUP CANDIDATES: perceptual hashes over the binary
       payloads (ops/multimodal.perceptual_hash_stub — the real-
       decoder swap point), paired by the banded-XOR hamming join at
       <= 8 bits (ops/dedup.hamming_pairs) GUARDED by the density
       pre-flight (pair_budget="auto" → ops/dedup.
       hamming_density_probe tightens the threshold when the
       predicted pair volume exceeds max(50·n, 1e7) — the in-engine
       fix for the 1M dense-print smoke that quarantined 58% of the
       corpus, docs/SCALE.md; at both test SFs the prediction is far
       under budget so the guided threshold stays 8 and the gate
       hash is unchanged);
    2. CROSS-MODAL CONSISTENCY GATE: each candidate image pair is
       verified against its CAPTIONS by exact unigram Jaccard
       (ops/dedup.verify_pairs_jaccard at 0.8). Pairs whose captions
       agree are true duplicates — drop the higher id (keep-first);
       pairs whose captions DISAGREE are cross-modal noise (same
       image, conflicting captions — the LAION-style mismatch) and
       BOTH sides are quarantined;
    3. CAPTION DEDUP: MinHash-LSH over the survivors' captions
       (est. Jaccard >= 0.25), keep-first;
    4. TOPIC-BALANCED MIX: embedding labels, integral salted-hash
       keep test (ops/sampling.balanced_sample_by_group);
    5. PACK + EXPORT: 512-token packing windows over 8 shards, JSONL
       shard export, stats from the READ-BACK export.

    Every stage changes the survivor set at both test SFs (482 image
    pairs → 337 dups + 145 quarantined pair-sides at sf0.01), so the
    final (shard, bin) hash is load-bearing for all five. Scale
    posture: each stage is the already-audited plan of its gated
    operator (banded hamming join, (id, shingle)-keyed verify,
    banded minhash join, broadcast count join, per-shard packing
    windows); the pair table, the verified table and the stage-2
    survivor set each feed two consumers and are localCheckpoint'ed
    once (the multi-reference trap, docs/SCALE.md)."""
    from ukis_h3cellstore_spark import layout as L
    from ukis_h3cellstore_spark.entry_queries import _stable_tmpdir

    # spread: the payload phash chain and the caption shingle explode
    # both hang off the scan, and s1's barrier pins the survivor set's
    # parallelism to it
    docs = _docs(spark, sf_dir, spread=True)
    payloads = M.attach_binary_payload(docs)
    pairs = (
        M.phash_dup_pairs(payloads, max_hamming=8, pair_budget="auto")
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)  # feeds verify AND the anti-join
    )
    pairs = _probe("stage1 phash-pairs", pairs)
    sh = D.shingle_df(docs, "text", "doc_id", 1)
    verified = (
        D.verify_pairs_jaccard(pairs, sh, "doc_id", 0.8)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)  # feeds dup-drop AND inconsistency
    )
    inconsistent = pairs.join(verified, on=["id_a", "id_b"], how="left_anti")
    # quarantined pair-sides and keep-first dup drops fused into ONE
    # distinct: the left_anti below is a set-membership test, so the
    # three separate distinct exchanges this used to run (quarantine,
    # dup-drop, then the union of the two) collapse to a single
    # aggregation over the union of all three id streams
    drop = (
        inconsistent.select(F.col("id_a").alias("doc_id"))
        .union(inconsistent.select(F.col("id_b").alias("doc_id")))
        .union(verified.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    s1 = docs.join(
        drop, on="doc_id", how="left_anti"
    ).localCheckpoint(eager=False)  # feeds LSH shingles AND the survivor anti-join
    s1 = _probe("stage2 cross-modal gate", s1)
    cap_drop = (
        D.minhash_lsh_pairs(s1, min_est_jaccard=0.25)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(cap_drop, on="doc_id", how="left_anti")
    s2 = _probe("stage3 caption-dedup", s2)
    topical = s2.join(
        _embs(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "label"),
        on="doc_id",
    )
    mixed = (
        SM.balanced_sample_by_group(
            topical, "label", id_col="doc_id", salt="mmcure10"
        )
        .filter(F.col("keep"))
        .select("doc_id", "text")
        .localCheckpoint(eager=True)  # read by pack AND the export join
    )
    mixed = _probe("stage4 balanced-mix", mixed)
    packed = SM.pack_documents(mixed, max_tokens=512, num_shards=8)
    export = mixed.join(packed, on="doc_id").select(
        "doc_id", "shard", "n_tokens", "bin", "text"
    )
    path = _stable_tmpdir("mmcure_", sf_dir)
    L.write_jsonl_shards(export.repartition(8), path, docs_per_shard=2000)
    # explicit shared schema + FAILFAST: inference is a full parse
    # pass over the export (one read instead of two, guide §6), and
    # FAILFAST makes any drift in the exported columns fail loudly
    # instead of PERMISSIVE's silent nulls
    back = (
        spark.read.schema(_PACK_EXPORT_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
    )
    return (
        back.groupBy(
            F.col("shard").cast("int").alias("shard"),
            F.col("bin").cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "fill_ratio", F.round(F.col("total_tokens") / F.lit(512.0), 4)
        )
    )


def _q_multimodal_curation_e2e_sql() -> str:
    """Oracle composed from the proven per-stage fragments: the phash
    SimHash chain (Q_MULTIMODAL_PHASH_SQL's idiom at hamming <= 8),
    the unigram-shingle Jaccard verify, the minhash band join over
    survivors, the integer balanced-keep test, and the
    tp_base/tp_packed packing arithmetic."""
    mins = ", ".join(f"MIN({_duck_minhash_slot(i)}) AS m{i}" for i in range(8))
    band_conds = " OR ".join(
        "("
        + " AND ".join(f"a.m{i} = b.m{i}" for i in range(b * 2, b * 2 + 2))
        + ")"
        for b in range(4)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH g AS (
  SELECT doc_id, substr(text, j, 4) AS gram
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - 3)) AS j) js
  WHERE len(text) >= 4
),
hb AS (SELECT doc_id,
              ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
       FROM g),
bits AS (
  SELECT doc_id, b.j,
         SUM(CASE WHEN (h >> b.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hb, (SELECT unnest(generate_series(0, 59)) AS j) b
  GROUP BY 1, 2
),
ph AS (SELECT doc_id,
              SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS phash
       FROM bits GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 8
),
ush AS ({_duck_shingles_k(1)}),
usz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ush GROUP BY 1),
jac AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN ush a ON a.doc_id = p.id_a
  JOIN ush b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT j.id_a, j.id_b
  FROM jac j JOIN usz sa ON sa.doc_id = j.id_a
             JOIN usz sb ON sb.doc_id = j.id_b
  WHERE CAST(j.n_common AS DOUBLE)
        / (sa.n_sh + sb.n_sh - j.n_common) >= 0.8
),
inconsistent AS (
  SELECT p.id_a, p.id_b FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM verified v
                    WHERE v.id_a = p.id_a AND v.id_b = p.id_b)
),
removed AS (
  SELECT id_a AS doc_id FROM inconsistent
  UNION SELECT id_b FROM inconsistent
  UNION SELECT id_b FROM verified
),
s1 AS (SELECT d.* FROM documents d
       WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)),
csh AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM s1) t,
       unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
sig AS (SELECT doc_id, {mins} FROM csh GROUP BY doc_id),
capdrop AS (
  SELECT DISTINCT b.doc_id
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_conds})
  WHERE ({eq_sum}) / 8.0 >= 0.25
),
s2 AS (SELECT * FROM s1
       WHERE doc_id NOT IN (SELECT doc_id FROM capdrop)),
topical AS (
  SELECT s.doc_id, s.text, e.label
  FROM s2 s JOIN embeddings e ON e.vec_id = s.doc_id
),
counts AS (SELECT label, COUNT(*) AS n_group FROM topical GROUP BY 1),
mn AS (SELECT MIN(n_group) AS n_min FROM counts),
mixed AS (
  SELECT t.doc_id, t.text
  FROM topical t JOIN counts USING (label), mn
  WHERE ((('0x' || substr(md5('mmcure10' || '|' || CAST(t.doc_id AS VARCHAR)),
                          1, 15))::BIGINT % 1048576) * counts.n_group
         < mn.n_min * 1048576)
),
tp_base AS (
  SELECT doc_id,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8) AS INT) AS shard,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM mixed),
tp_packed AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS bin_offset
  FROM tp_base)
SELECT shard, CAST(bin_offset // 512 AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(SUM(n_tokens) / 512.0, 4) AS fill_ratio
FROM tp_packed GROUP BY 1, 2
"""


Q_MULTIMODAL_CURATION_E2E_SQL = _q_multimodal_curation_e2e_sql()


def q_part_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table record linkage (ops/joins.py:fuzzy_join, the
    left-vs-right shape): part-name entities are split by name-hash
    parity into a "catalog" and an "incoming batch" and the batch is
    linked against the catalog — blocked on the first token, verified
    with JVM Levenshtein <= 3. Exercises the cross-join contract
    where EVERY matching (left, right) pair is kept regardless of id
    order (a self-join-style id_a < id_b filter would silently drop
    every match whose batch id exceeds its catalog id)."""
    from ukis_h3cellstore_spark.ops.joins import fuzzy_join

    ent = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    parity = F.pmod(
        F.conv(F.substring(F.md5("p_name"), 1, 15), 16, 10).cast("long"),
        F.lit(2),
    )
    batch = ent.filter(parity == 0)
    catalog = ent.filter(parity == 1)
    return fuzzy_join(batch, catalog, "p_name", "name_id", max_distance=3)


Q_PART_FUZZY_LINK_SQL = r"""
WITH ent AS (SELECT p_name, MIN(p_partkey) AS id FROM part GROUP BY 1),
p AS (SELECT id, p_name AS t,
             regexp_split_to_array(trim(p_name), '\s+')[1] AS blk,
             (('0x' || substr(md5(p_name), 1, 15))::BIGINT % 2) AS par
      FROM ent)
SELECT a.id AS id_a, b.id AS id_b, a.t AS text_a, b.t AS text_b,
       CAST(levenshtein(a.t, b.t) AS INT) AS distance
FROM p a JOIN p b ON a.blk = b.blk AND a.par = 0 AND b.par = 1
WHERE a.id != b.id AND levenshtein(a.t, b.t) <= 3
"""


def q_events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered windowed funnel over the event stream: per user, the
    earliest signup, then the earliest view within 24 h AT OR AFTER
    it, then the earliest click within 24 h of that, then the
    earliest purchase within 24 h again — the classic
    product-analytics conversion funnel (each stage must follow the
    previous one in event time, inside the per-hop conversion
    window). Reports per stage the users reaching it and the integral
    milli conversion from the previous stage.

    Scale shape: ONE events scan and ONE shuffle (groupBy user,
    sorted event array), then the whole stage chain is a per-user
    array fold in whole-stage codegen — filter(evs, type==s && ts in
    [t_prev, t_prev+24h])[1] per stage. The per-user fold is bounded
    by that user's own event count (the sessionize posture); compare
    the naive shape — one events-sized aggregation PER STAGE — which
    scans the stream S times. The 4-row stage report joins to itself
    broadcast for the ratio — no one-task window anywhere. Thin
    wrapper over :func:`ops.sessions.funnel` (the first-class
    operator; the plan above is its docstring's contract)."""
    from ukis_h3cellstore_spark.ops.sessions import funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    return funnel(
        ev,
        ["signup", "view", "click", "purchase"],
        window=F.expr("INTERVAL 24 HOURS"),
    )


Q_EVENTS_FUNNEL_SQL = """
WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
        AND e.ts <= s1.t + INTERVAL 24 HOUR
       WHERE e.event_type = 'view' GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
        AND e.ts <= s2.t + INTERVAL 24 HOUR
       WHERE e.event_type = 'click' GROUP BY 1),
s4 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.t
        AND e.ts <= s3.t + INTERVAL 24 HOUR
       WHERE e.event_type = 'purchase' GROUP BY 1),
counts AS (
  SELECT 1 AS stage, 'signup' AS stage_name, COUNT(*) AS n FROM s1
  UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
  UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
  UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
)
SELECT c.stage, c.stage_name, CAST(c.n AS BIGINT) AS n_users,
       CAST(CASE WHEN p.n IS NULL THEN 1000
                 WHEN p.n = 0 THEN 0
                 ELSE (1000 * c.n) // p.n END AS BIGINT) AS conv_milli
FROM counts c LEFT JOIN counts p ON p.stage = c.stage - 1
"""


def q_corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity report: distinct trigrams over
    total trigram instances (milli) — the self-repetition audit that
    catches template-generated or boilerplate-heavy sources before
    they skew training (low diversity = the source repeats itself).
    One totals aggregation plus one distinct-count over the exploded
    trigram rows; both partial-aggregable, the explode is the only
    data-expansion and is bounded by token count. Thin wrapper over
    :func:`ops.text.ngram_diversity` in its EXACT form (the hash gate
    needs bit-exact counts; the datacard path should use
    ``approx=True`` — HLL sketch state instead of per-group distinct
    state, see docs/SCALE.md)."""
    return X.ngram_diversity(
        _docs(spark, sf_dir), "source", "text", n=3, approx=False
    ).select(
        "source",
        "n_docs",
        "total_tokens",
        F.col("total_ngrams").alias("total_trigrams"),
        F.col("distinct_ngrams").alias("distinct_trigrams"),
        "diversity_milli",
    )


Q_CORPUS_NGRAM_DIVERSITY_SQL = f"""
WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
tot AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
         CAST(SUM(greatest(len(toks) - 2, 0)) AS BIGINT) AS total_trigrams
  FROM t GROUP BY 1
),
tri AS (
  SELECT source, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS g
  FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
),
d AS (SELECT source, COUNT(DISTINCT g) AS distinct_trigrams
      FROM tri GROUP BY 1)
SELECT tot.source, tot.n_docs, tot.total_tokens, tot.total_trigrams,
       CAST(d.distinct_trigrams AS BIGINT) AS distinct_trigrams,
       CAST((1000 * d.distinct_trigrams) // tot.total_trigrams AS BIGINT)
         AS diversity_milli
FROM tot JOIN d USING (source)
"""


def q_corpus_pack_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum packing (ops/sampling.py: pack_documents with
    order_cols): shortest-first schedule — within each shard the
    documents pack in ascending token-count order (doc_id tiebreak),
    so early bins hold the easiest/shortest documents. Reports per
    (shard, bin) the doc count, token total, and the min/max document
    length — the min/max columns make the curriculum ordering itself
    part of the verified hash, not just the bin arithmetic."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", F.size(X.tokens("text")).alias("nt")
    )
    packed = SM.pack_documents(
        docs, max_tokens=512, num_shards=8, order_cols=["nt", "doc_id"]
    )
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_doc_tokens"),
            F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        )
    )


Q_CORPUS_PACK_CURRICULUM_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8) AS INT) AS shard,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt
  FROM documents),
packed AS (
  SELECT shard, nt,
         SUM(nt) OVER (PARTITION BY shard ORDER BY nt, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
           AS bin_offset
  FROM base)
SELECT shard, CAST(bin_offset // 512 AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(MIN(nt) AS BIGINT) AS min_doc_tokens,
       CAST(MAX(nt) AS BIGINT) AS max_doc_tokens
FROM packed GROUP BY 1, 2
"""


def q_embedding_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair mining (ops/similarity.py: margin_pairs, the
    Artetxe & Schwenk bitext criterion): label-0 vectors mined
    against the rest of the corpus — per query its best cross-group
    neighbor plus the top1-top2 margin that scores how decisive the
    match is. One broadcast-query scored scan at k=2, then a
    queries-sized pivot."""
    e = _embs(spark, sf_dir)
    return S.margin_pairs(
        e.filter(F.col("label") != 0), e.filter(F.col("label") == 0)
    )


Q_EMBEDDING_MARGIN_PAIRS_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
           WHERE label = 0),
     c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings
           WHERE label <> 0),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         round(CAST({_DUCK_COSINE} AS DOUBLE), 4) AS cosine_sim
  FROM c a, q WHERE a.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(MAX(CASE WHEN rank = 1 THEN neighbor_id END) AS BIGINT)
         AS neighbor_id,
       MAX(CASE WHEN rank = 1 THEN cosine_sim END) AS cos_top1,
       MAX(CASE WHEN rank = 2 THEN cosine_sim END) AS cos_top2,
       round(MAX(CASE WHEN rank = 1 THEN cosine_sim END)
             - MAX(CASE WHEN rank = 2 THEN cosine_sim END), 4) AS margin
FROM ranked WHERE rank <= 2 GROUP BY query_id
HAVING MAX(CASE WHEN rank = 2 THEN cosine_sim END) IS NOT NULL
"""


def q_embedding_margin_pairs_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus margin mining (ops/similarity.py:
    margin_pairs_ivf): EVERY vector mined against the whole corpus —
    the real bitext/alignment shape the exact margin gate's
    sample-queries contract forbids. Candidates come from the IVF
    probed lists (16 centroids, nprobe=2), the scoring join shuffles
    both sides on centroid_id (no queries-sized broadcast), then the
    same top-2 margin pivot. Recall vs exact margins is floor-frozen
    in tests/test_ann_recall.py."""
    e = _embs(spark, sf_dir)
    return S.margin_pairs_ivf(
        e, e, n_centroids=16, nprobe=2, train_iters=_IVF_ITERS
    )


_MARGIN_IVF_CENTROIDS: dict[tuple[str, str], "DataFrame"] = {}


def q_embedding_margin_pairs_ivf_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Steady-state bench variant of ``embedding_margin_pairs_ivf``:
    centroids are trained ONCE per sf_dir and cached (the documented
    train-once-reuse posture — repeated mining against a fixed index
    never re-runs Lloyd's), so the timed number is the probed-list
    scoring + margin pivot, not the k-means driver loop. Same
    mining parameters and training as the gate."""
    e = _embs(spark, sf_dir)
    # cache key includes the session via applicationId (session-stable,
    # never reused after GC the way id() can be): a DataFrame handle
    # dies with its SparkContext, so a recreated session must retrain
    key = (spark.sparkContext.applicationId, sf_dir)
    cent = _MARGIN_IVF_CENTROIDS.get(key)
    if cent is None:
        # kmeans_fit already returns a driver-local relation (its last
        # step is createDataFrame over collected centroid rows) — no
        # extra collect round-trip needed
        cent = S.kmeans_fit(e, n_centroids=16, max_iter=_IVF_ITERS)
        _MARGIN_IVF_CENTROIDS[key] = cent
    # scale-path scorer: per-list GEMM (2x the oracle-reproducible JVM
    # fold end-to-end, docs/SCALE.md r11; identical ranked rows —
    # agreement pytest). The registry gate keeps the fold.
    return S.margin_pairs_ivf(e, e, nprobe=2, centroids=cent, scorer="gemm")


def _q_embedding_margin_pairs_ivf_sql() -> str:
    """Replays kmeans_fit + the nprobe=2 probed-list
    scoring (the ann_ivf oracle machinery), then the margin pivot over
    rank <= 2 — corpus-vs-corpus, so q_assign has no vec_id filter."""

    def cos(a_vec: str, b_vec: str) -> str:
        return _DUCK_COSINE.replace("a.c_vec", a_vec).replace("q.q_vec", b_vec)

    ctes = [
        """cent0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT 16
)"""
    ]
    for i in range(1, _IVF_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {prev} c
  ) WHERE r = 1
),
comp{i} AS (
  SELECT centroid_id, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM a{i}
),
pv{i} AS (
  SELECT centroid_id, pos,
         list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM comp{i} GROUP BY centroid_id, pos
),
cent{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS c_vec
  FROM pv{i} GROUP BY centroid_id
)"""
        )
    last = f"cent{_IVF_ITERS}"
    ctes.append(
        f"""c_assign AS (
  SELECT neighbor_id, n_vec, centroid_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS n_vec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {last} c
  ) WHERE r = 1
),
q_assign AS (
  SELECT query_id, q_vec, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q_vec, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos('c.c_vec', 'e.embedding')} DESC,
                      c.centroid_id ASC) AS r
    FROM embeddings e, {last} c
  ) WHERE r <= 2
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(CAST({cos('c.n_vec', 'q.q_vec')} AS DOUBLE), 4) AS cosine_sim
  FROM c_assign c JOIN q_assign q USING (centroid_id)
  WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)"""
    )
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(MAX(CASE WHEN rank = 1 THEN neighbor_id END) AS BIGINT)
         AS neighbor_id,
       MAX(CASE WHEN rank = 1 THEN cosine_sim END) AS cos_top1,
       MAX(CASE WHEN rank = 2 THEN cosine_sim END) AS cos_top2,
       round(MAX(CASE WHEN rank = 1 THEN cosine_sim END)
             - MAX(CASE WHEN rank = 2 THEN cosine_sim END), 4) AS margin
FROM ranked WHERE rank <= 2 GROUP BY query_id
HAVING MAX(CASE WHEN rank = 2 THEN cosine_sim END) IS NOT NULL
"""


def q_embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift audit (ops/similarity.py: centroid_drift):
    per source, the cosine of the source's mean embedding against the
    pooled corpus centroid — catches a source whose semantic direction
    moved even when every scalar column looks stable (the vector
    complement of the KS/W1/PSI gates). One dimension-explode, one
    (source, dim) partial-agg shuffle, 1-row pooled broadcast."""
    from ukis_h3cellstore_spark.ops.similarity import centroid_drift

    j = (
        _docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(
            _embs(spark, sf_dir).select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            on="doc_id",
        )
    )
    return centroid_drift(j, "source")


Q_EMBEDDING_SOURCE_DRIFT_SQL = """
WITH j AS (
  SELECT d.source, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.source IS NOT NULL
),
comp AS (
  SELECT source, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM j
),
src AS (SELECT source, pos, SUM(v) AS s, COUNT(*) AS n
        FROM comp GROUP BY 1, 2),
srcv AS (SELECT source, list(s / n ORDER BY pos) AS c_vec,
                CAST(MIN(n) AS BIGINT) AS n_vecs
         FROM src GROUP BY 1),
alldim AS (SELECT pos, SUM(v) AS s, COUNT(*) AS n FROM comp GROUP BY 1),
allv AS (SELECT list(s / n ORDER BY pos) AS g_vec FROM alldim)
SELECT source, n_vecs,
       round(list_reduce(list_transform(list_zip(c_vec, g_vec),
                                        x -> x[1] * x[2]), (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(c_vec, x -> x * x),
                                 (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(g_vec, x -> x * x),
                                   (a, b) -> a + b))), 4) AS centroid_cos
FROM srcv, allv
"""


def q_corpus_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew pre-flight report (ops/report.py: key_skew_report):
    per candidate key column, the exact top-5 heaviest values with
    counts, integral milli shares, and the column's exact distinct
    count — the report that parameterizes the engine's skew knobs
    (salting, blocking-key choice, gemm_block_rows, max_bucket_size)
    BEFORE a 100 TB shuffle ships."""
    from ukis_h3cellstore_spark.ops import report as RP

    return RP.key_skew_report(
        _docs(spark, sf_dir), ["source", "lang", "n_chars"], top_n=5
    )


Q_CORPUS_KEY_SKEW_SQL = """
WITH pairs AS (
  SELECT 'source' AS "column",
         COALESCE(CAST(source AS VARCHAR), '<null>') AS value
  FROM documents
  UNION ALL
  SELECT 'lang', COALESCE(CAST(lang AS VARCHAR), '<null>') FROM documents
  UNION ALL
  SELECT 'n_chars', COALESCE(CAST(n_chars AS VARCHAR), '<null>')
  FROM documents
), counts AS (
  SELECT "column", value, COUNT(*) AS n_rows
  FROM pairs GROUP BY "column", value
), tot AS (
  SELECT SUM(n_rows) AS total FROM counts WHERE "column" = 'source'
), dist AS (
  SELECT "column", COUNT(*) AS n_distinct FROM counts GROUP BY "column"
), ranked AS (
  SELECT "column", value, n_rows,
         ROW_NUMBER() OVER (
           PARTITION BY "column" ORDER BY n_rows DESC, value ASC
         ) AS rank
  FROM counts
)
SELECT r."column" AS "column", r.value, r.n_rows,
       CAST(r.rank AS INT) AS rank,
       CAST((r.n_rows * 1000) // t.total AS BIGINT) AS share_milli,
       d.n_distinct
FROM ranked r CROSS JOIN tot t JOIN dist d USING ("column")
WHERE r.rank <= 5
"""


QUERIES_OPS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "corpus_curation_e2e": q_corpus_curation_e2e,
    "multimodal_curation_e2e": q_multimodal_curation_e2e,
    "part_fuzzy_link": q_part_fuzzy_link,
    "embedding_source_drift": q_embedding_source_drift,
    "events_funnel_conversion": q_events_funnel_conversion,
    "corpus_ngram_diversity": q_corpus_ngram_diversity,
    "corpus_pack_curriculum": q_corpus_pack_curriculum,
    "embedding_margin_pairs": q_embedding_margin_pairs,
    "embedding_margin_pairs_ivf": q_embedding_margin_pairs_ivf,
    "text_code_score": q_text_code_score,
    "corpus_w1_drift": q_corpus_w1_drift,
    "ann_tiered_rerank": q_ann_tiered_rerank,
    "corpus_surprisal_outliers": q_corpus_surprisal_outliers,
    "multimodal_dup_clusters": q_multimodal_dup_clusters,
    "text_burstiness": q_text_burstiness,
    "embedding_two_nn_dim": q_embedding_two_nn_dim,
    "events_gap_survival": q_events_gap_survival,
    "corpus_length_gini": q_corpus_length_gini,
    "corpus_jsd_drift": q_corpus_jsd_drift,
    "events_markov_transitions": q_events_markov_transitions,
    "part_abc_classes": q_part_abc_classes,
    "events_benford_audit": q_events_benford_audit,
    "dedup_minhash_error": q_dedup_minhash_error,
    "corpus_score_rank_corr": q_corpus_score_rank_corr,
    "graph_hits": q_graph_hits,
    "orders_rfm_segments": q_orders_rfm_segments,
    "corpus_zipf_slope": q_corpus_zipf_slope,
    "lineitem_copurchase_lift": q_lineitem_copurchase_lift,
    "part_fuzzy_match": q_part_fuzzy_match,
    "events_cusum_changepoint": q_events_cusum_changepoint,
    "corpus_psi_drift": q_corpus_psi_drift,
    "events_ks_drift": q_events_ks_drift,
    "events_type_bucket_dependence": q_events_type_bucket_dependence,
    "events_pareto_frontier": q_events_pareto_frontier,
    "text_readability": q_text_readability,
    "ann_matryoshka_top3": q_ann_matryoshka_top3,
    "corpus_weighted_sample": q_corpus_weighted_sample,
    "text_taxonomy_tag": q_text_taxonomy_tag,
    "events_mad_outliers": q_events_mad_outliers,
    "text_ccnet_buckets": q_text_ccnet_buckets,
    "corpus_length_batches": q_corpus_length_batches,
    "corpus_token_budget_mix": q_corpus_token_budget_mix,
    "text_collocations": q_text_collocations,
    "events_grouped_auc": q_events_grouped_auc,
    "ann_random_projection": q_ann_random_projection,
    "events_winsorized_means": q_events_winsorized_means,
    "events_calibration_bins": q_events_calibration_bins,
    "graph_triangles": q_graph_triangles,
    "corpus_source_drift": q_corpus_source_drift,
    "events_quantile_transform": q_events_quantile_transform,
    "graph_personalized_pagerank": q_graph_personalized_pagerank,
    "ann_label_centroid_sim": q_ann_label_centroid_sim,
    "corpus_datacard": q_corpus_datacard,
    "corpus_key_skew": q_corpus_key_skew,
    "ann_whitened": q_ann_whitened,
    "text_fertility": q_text_fertility,
    "corpus_k_anonymity": q_corpus_k_anonymity,
    "corpus_l_diversity": q_corpus_l_diversity,
    "corpus_cluster_balanced_sample": q_corpus_cluster_balanced,
    "corpus_novelty_rate": q_corpus_novelty_rate,
    "corpus_filter_attrition": q_corpus_filter_attrition,
    "ann_knn_label_agreement": q_ann_knn_label_agreement,
    "text_vocab_profile": q_text_vocab_profile,
    "corpus_source_containment": q_corpus_source_containment,
    "corpus_group_split": q_corpus_group_split,
    "events_interarrival": q_events_interarrival,
    "text_cms_heavy_hitters": q_text_cms_heavy_hitters,
    "graph_pagerank": q_graph_pagerank,
    "ann_kcenter_coreset": q_ann_kcenter_coreset,
    "corpus_bloom_decontaminate": q_corpus_bloom_decontaminate,
    "events_hll_sketch": q_events_hll_sketch,
    "corpus_snapshot_diff": q_corpus_snapshot_diff,
    "corpus_domain_cap": q_corpus_domain_cap,
    "events_fleiss_kappa": q_events_fleiss_kappa,
    "text_bm25_topk": q_text_bm25_topk,
    "ann_hamming_top3": q_ann_hamming_top3,
    "text_trigram_backoff": q_text_trigram_backoff,
    "corpus_dsir_weights": q_corpus_dsir_weights,
    "text_normalize": q_text_normalize,
    "text_boilerplate": q_text_boilerplate,
    "text_quality_logit": q_text_quality_logit,
    "ann_sq8_top3": q_ann_sq8_top3,
    "ann_filtered_top3": q_ann_filtered_top3,
    "text_surprisal": q_text_surprisal,
    "multimodal_features": q_multimodal_features,
    "dedup_semantic": q_semantic_dedup,
    "dedup_cross_modal": q_dedup_cross_modal,
    "text_stats": q_text_stats,
    "text_langid": q_text_langid,
    "text_token_counts": q_text_token_counts,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_signatures": q_dedup_minhash,
    "dedup_minhash_lsh_pairs": q_dedup_minhash_lsh_pairs,
    "dedup_minhash_buckets": q_dedup_minhash_buckets,
    "dedup_minhash_guided": q_dedup_minhash_guided,
    "dedup_lsh_verified": q_dedup_lsh_verified,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_groups": q_dedup_simhash_groups,
    "dedup_simhash_hamming": q_dedup_simhash_hamming,
    "ann_cosine_top3": q_ann_cosine_top3,
    "embedding_norm_report": q_embedding_norm_report,
    "ann_ivf_top3": q_ann_ivf_top3,
    "ann_lsh_top3": q_ann_lsh_top3,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "multimodal_decode_meta": q_multimodal_decode_meta,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "corpus_curation": q_corpus_curation,
    "corpus_split_counts": q_corpus_split_counts,
    "pack_documents": q_pack_documents,
    "packing_stats": q_packing_stats,
    "corpus_mixture": q_corpus_mixture,
    "text_scrub_pii": q_text_scrub_pii,
    "corpus_training_mix": q_corpus_training_mix,
    "dedup_cluster_resolve": q_dedup_cluster_resolve,
    "dedup_keep_best": q_dedup_keep_best,
    "text_tfidf_topk": q_text_tfidf_topk,
    "corpus_decontaminate": q_corpus_decontaminate,
    "text_vocab_top50": q_text_vocab_top50,
    "text_repetition": q_text_repetition,
    "text_gopher_quality": q_text_gopher_quality,
    "corpus_source_report": q_corpus_source_report,
    "corpus_stratified_sample": q_corpus_stratified_sample,
    "corpus_chunked": q_corpus_chunked,
    "corpus_length_filter": q_corpus_length_filter,
    "corpus_oov_report": q_corpus_oov_report,
    "corpus_cross_source_dups": q_corpus_cross_source_dups,
    "ann_pq_top3": q_ann_pq_top3,
    "ann_ivfpq_top3": q_ann_ivfpq_top3,
    "dedup_containment": q_dedup_containment,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_segments": q_dedup_segments,
    "text_c4_filter": q_text_c4_filter,
    "dedup_span_excise": q_dedup_span_excise,
    "text_bpe_pairs": q_text_bpe_pairs,
    "corpus_quality_auc": q_corpus_quality_auc,
    "multimodal_phash_pairs": q_multimodal_phash_pairs,
    "multimodal_phash_density": q_multimodal_phash_density,
    "text_bpe_merge_apply": q_text_bpe_merge_apply,
    "text_bigram_surprisal": q_text_bigram_surprisal,
    "corpus_clean_pipeline": q_corpus_clean_pipeline,
    "corpus_tokenize_pack": q_corpus_tokenize_pack,
    "corpus_resampled_mix": q_corpus_resampled_mix,
    "ann_hard_negatives": q_ann_hard_negatives,
    "rag_prep_pipeline": q_rag_prep_pipeline,
    "dedup_incremental_index": q_dedup_incremental_index,
    "dedup_incremental_e2e": q_dedup_incremental_e2e,
    "text_char_entropy": q_text_char_entropy,
    "corpus_temperature_mix": q_corpus_temperature_mix,
}

ORACLES_OPS: dict[str, str] = {
    "corpus_curation_e2e": Q_CORPUS_CURATION_E2E_SQL,
    "multimodal_curation_e2e": Q_MULTIMODAL_CURATION_E2E_SQL,
    "part_fuzzy_link": Q_PART_FUZZY_LINK_SQL,
    "embedding_source_drift": Q_EMBEDDING_SOURCE_DRIFT_SQL,
    "events_funnel_conversion": Q_EVENTS_FUNNEL_SQL,
    "corpus_ngram_diversity": Q_CORPUS_NGRAM_DIVERSITY_SQL,
    "corpus_pack_curriculum": Q_CORPUS_PACK_CURRICULUM_SQL,
    "embedding_margin_pairs": Q_EMBEDDING_MARGIN_PAIRS_SQL,
    "embedding_margin_pairs_ivf": _q_embedding_margin_pairs_ivf_sql(),
    "text_code_score": Q_TEXT_CODE_SCORE_SQL,
    "corpus_w1_drift": Q_CORPUS_W1_SQL,
    "ann_tiered_rerank": Q_ANN_TIERED_RERANK_SQL,
    "corpus_surprisal_outliers": Q_CORPUS_SURPRISAL_OUTLIERS_SQL,
    "multimodal_dup_clusters": Q_MULTIMODAL_DUP_CLUSTERS_SQL,
    "text_burstiness": Q_TEXT_BURSTINESS_SQL,
    "embedding_two_nn_dim": Q_EMBEDDING_TWO_NN_SQL,
    "events_gap_survival": Q_EVENTS_GAP_SURVIVAL_SQL,
    "corpus_length_gini": Q_CORPUS_GINI_SQL,
    "corpus_jsd_drift": Q_CORPUS_JSD_SQL,
    "events_markov_transitions": Q_EVENTS_MARKOV_SQL,
    "part_abc_classes": Q_PART_ABC_SQL,
    "events_benford_audit": Q_EVENTS_BENFORD_SQL,
    "dedup_minhash_error": _q_dedup_minhash_error_sql(),
    "corpus_score_rank_corr": Q_CORPUS_RANK_CORR_SQL,
    "graph_hits": Q_GRAPH_HITS_SQL,
    "orders_rfm_segments": Q_ORDERS_RFM_SQL,
    "corpus_zipf_slope": Q_CORPUS_ZIPF_SQL,
    "lineitem_copurchase_lift": Q_LINEITEM_COPURCHASE_SQL,
    "part_fuzzy_match": Q_PART_FUZZY_SQL,
    "events_cusum_changepoint": Q_EVENTS_CUSUM_SQL,
    "corpus_psi_drift": Q_CORPUS_PSI_SQL,
    "events_ks_drift": Q_EVENTS_KS_DRIFT_SQL,
    "events_type_bucket_dependence": Q_EVENTS_DEPENDENCE_SQL,
    "events_pareto_frontier": Q_EVENTS_PARETO_SQL,
    "text_readability": Q_TEXT_READABILITY_SQL,
    "ann_matryoshka_top3": Q_ANN_MATRYOSHKA_SQL,
    "corpus_weighted_sample": Q_CORPUS_WEIGHTED_SAMPLE_SQL,
    "text_taxonomy_tag": _q_text_taxonomy_tag_sql(),
    "events_mad_outliers": Q_EVENTS_MAD_OUTLIERS_SQL,
    "text_ccnet_buckets": Q_TEXT_CCNET_BUCKETS_SQL,
    "corpus_length_batches": Q_CORPUS_LENGTH_BATCHES_SQL,
    "corpus_token_budget_mix": Q_CORPUS_TOKEN_BUDGET_MIX_SQL,
    "text_collocations": Q_TEXT_COLLOCATIONS_SQL,
    "events_grouped_auc": Q_EVENTS_GROUPED_AUC_SQL,
    "ann_random_projection": Q_ANN_RANDOM_PROJECTION_SQL,
    "events_winsorized_means": Q_EVENTS_WINSORIZED_SQL,
    "events_calibration_bins": Q_EVENTS_CALIBRATION_SQL,
    "graph_triangles": Q_GRAPH_TRIANGLES_SQL,
    "corpus_source_drift": _q_corpus_source_drift_sql(32),
    "events_quantile_transform": Q_EVENTS_QUANTILE_SQL,
    "graph_personalized_pagerank": _ppr_oracle_sql(3),
    "ann_label_centroid_sim": Q_ANN_LABEL_CENTROID_SQL,
    "corpus_datacard": Q_CORPUS_DATACARD_SQL,
    "corpus_key_skew": Q_CORPUS_KEY_SKEW_SQL,
    "ann_whitened": Q_ANN_WHITENED_SQL,
    "text_fertility": Q_TEXT_FERTILITY_SQL,
    "corpus_k_anonymity": Q_CORPUS_K_ANON_SQL,
    "corpus_l_diversity": Q_CORPUS_L_DIVERSITY_SQL,
    "corpus_cluster_balanced_sample": _q_corpus_cluster_balanced_sql(),
    "corpus_novelty_rate": Q_CORPUS_NOVELTY_SQL,
    "corpus_filter_attrition": Q_CORPUS_ATTRITION_SQL,
    "ann_knn_label_agreement": Q_ANN_KNN_AGREEMENT_SQL,
    "text_vocab_profile": Q_TEXT_VOCAB_PROFILE_SQL,
    "corpus_source_containment": Q_CORPUS_SOURCE_CONTAINMENT_SQL,
    "corpus_group_split": _q_corpus_group_split_sql(),
    "events_interarrival": Q_EVENTS_INTERARRIVAL_SQL,
    "graph_pagerank": Q_GRAPH_PAGERANK_SQL,
    "corpus_snapshot_diff": Q_CORPUS_SNAPSHOT_DIFF_SQL,
    "corpus_domain_cap": Q_CORPUS_DOMAIN_CAP_SQL,
    "events_fleiss_kappa": Q_EVENTS_FLEISS_KAPPA_SQL,
    "ann_kcenter_coreset": Q_ANN_KCENTER_SQL,
    "corpus_bloom_decontaminate": Q_CORPUS_BLOOM_SQL,
    "events_hll_sketch": Q_EVENTS_HLL_SQL,
    "text_cms_heavy_hitters": Q_TEXT_CMS_SQL,
    "text_bm25_topk": _q_text_bm25_sql(),
    "ann_hamming_top3": Q_ANN_HAMMING_SQL,
    "text_trigram_backoff": Q_TEXT_TRIGRAM_BACKOFF_SQL,
    "corpus_dsir_weights": _q_corpus_dsir_weights_sql(),
    "text_normalize": Q_TEXT_NORMALIZE_SQL,
    "text_boilerplate": Q_TEXT_BOILERPLATE_SQL,
    "text_quality_logit": Q_TEXT_QUALITY_LOGIT_SQL,
    "ann_sq8_top3": Q_ANN_SQ8_SQL,
    "ann_filtered_top3": _q_ann_filtered_top3_sql(),
    "text_surprisal": Q_TEXT_SURPRISAL_SQL,
    "multimodal_features": Q_MULTIMODAL_FEATURES_SQL,
    "dedup_semantic": _q_semantic_dedup_sql(),
    "dedup_cross_modal": _q_dedup_cross_modal_sql(),
    "text_stats": Q_TEXT_STATS_SQL,
    "text_langid": _q_text_langid_sql(),
    "text_token_counts": Q_TEXT_TOKEN_COUNTS_SQL,
    "text_fingerprint": Q_TEXT_FINGERPRINT_SQL,
    "dedup_exact": Q_DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": Q_DEDUP_NGRAM_JACCARD_SQL,
    "dedup_minhash_signatures": _q_dedup_minhash_sql(),
    "dedup_minhash_lsh_pairs": _q_dedup_minhash_lsh_sql(),
    "dedup_minhash_buckets": _q_dedup_minhash_buckets_sql(),
    "dedup_minhash_guided": _q_dedup_minhash_guided_sql(),
    "dedup_lsh_verified": _q_dedup_lsh_verified_sql(),
    "dedup_simhash": _q_dedup_simhash_sql(),
    "dedup_simhash_groups": _q_dedup_simhash_groups_sql(),
    "dedup_simhash_hamming": _q_dedup_simhash_hamming_sql(),
    "ann_cosine_top3": Q_ANN_COSINE_TOP3_SQL,
    "embedding_norm_report": Q_EMBEDDING_NORM_SQL,
    "ann_ivf_top3": _q_ann_ivf_top3_sql(),
    "ann_lsh_top3": _q_ann_lsh_top3_sql(),
    "embedding_dup_pairs": _q_embedding_dup_pairs_sql(),
    # multimodal_decode_meta intentionally has an oracle — the stub
    # decoder derives metadata relationally-reproducibly
    "multimodal_decode_meta": Q_MULTIMODAL_DECODE_META_SQL,
    "multimodal_frame_sample": Q_MULTIMODAL_FRAME_SAMPLE_SQL,
    "corpus_curation": _q_corpus_curation_sql(),
    "corpus_split_counts": _q_corpus_split_counts_sql(),
    "pack_documents": _q_pack_documents_sql(),
    "packing_stats": _q_packing_stats_sql(),
    "corpus_mixture": _q_corpus_mixture_sql(),
    "text_scrub_pii": _q_text_scrub_pii_sql(),
    "corpus_training_mix": _q_corpus_training_mix_sql(),
    "dedup_cluster_resolve": _q_dedup_cluster_resolve_sql(),
    "dedup_keep_best": _q_dedup_keep_best_sql(),
    "text_tfidf_topk": Q_TEXT_TFIDF_SQL,
    "corpus_decontaminate": _q_corpus_decontaminate_sql(),
    "text_vocab_top50": Q_TEXT_VOCAB_TOP50_SQL,
    "text_repetition": Q_TEXT_REPETITION_SQL,
    "text_gopher_quality": Q_TEXT_GOPHER_SQL,
    "corpus_source_report": _q_corpus_source_report_sql(),
    "corpus_stratified_sample": Q_CORPUS_STRATIFIED_SAMPLE_SQL,
    "corpus_chunked": Q_CORPUS_CHUNKED_SQL,
    "corpus_length_filter": Q_CORPUS_LENGTH_FILTER_SQL,
    "corpus_oov_report": Q_CORPUS_OOV_SQL,
    "corpus_cross_source_dups": Q_CORPUS_CROSS_SOURCE_SQL,
    "ann_pq_top3": _q_ann_pq_top3_sql(),
    "ann_ivfpq_top3": _q_ann_ivfpq_top3_sql(),
    "dedup_containment": Q_DEDUP_CONTAINMENT_SQL,
    "dedup_substring_spans": Q_DEDUP_SUBSTRING_SPANS_SQL,
    "dedup_segments": Q_DEDUP_SEGMENTS_SQL,
    "text_c4_filter": Q_TEXT_C4_FILTER_SQL,
    "dedup_span_excise": Q_DEDUP_SPAN_EXCISE_SQL,
    "text_bpe_pairs": Q_TEXT_BPE_PAIRS_SQL,
    "corpus_quality_auc": Q_CORPUS_QUALITY_AUC_SQL,
    "multimodal_phash_pairs": Q_MULTIMODAL_PHASH_SQL,
    "multimodal_phash_density": Q_MULTIMODAL_PHASH_DENSITY_SQL,
    "text_bpe_merge_apply": Q_TEXT_BPE_MERGE_SQL,
    "text_bigram_surprisal": Q_TEXT_BIGRAM_SURPRISAL_SQL,
    "corpus_clean_pipeline": Q_CORPUS_CLEAN_PIPELINE_SQL,
    "corpus_tokenize_pack": Q_CORPUS_TOKENIZE_PACK_SQL,
    "corpus_resampled_mix": _q_corpus_resampled_mix_sql(),
    "ann_hard_negatives": Q_ANN_HARD_NEGATIVES_SQL,
    "rag_prep_pipeline": Q_RAG_PREP_PIPELINE_SQL,
    "dedup_incremental_index": _q_dedup_incremental_index_sql(),
    "dedup_incremental_e2e": _q_dedup_incremental_e2e_sql(),
    "text_char_entropy": Q_TEXT_CHAR_ENTROPY_SQL,
    "corpus_temperature_mix": _q_corpus_temperature_mix_sql(),
}
