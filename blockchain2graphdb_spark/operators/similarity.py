"""Similarity search over embedding columns (SURVEY.md §2.13 X3).

Three tiers, mirroring how this runs at 100 TB:

* `similarity_topk` — exact brute-force top-k, integer-quantized so the
  DuckDB oracle matches bit-for-bit. The query side is tiny and
  broadcast; candidates stream through one shuffle-free pass + a
  per-query top-k window.
* `similarity_bruteforce` — the production float path: zip_with/aggregate
  higher-order functions, one row per (query, candidate), no explode, no
  Python. Rows-only check (float sum order differs across engines).
* `similarity_lsh` — the scale path: random-hyperplane LSH bucketing
  turns the N×M cross product into an equi-join on bucket signatures;
  exact rerank inside buckets. Recall < 1 by design → rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import md5_int
from ..functions.vectors import (
    cosine,
    dot,
    float_cosine,
    float_dot,
    norm2,
    quantize,
    sq_dist,
)
from ..plans.iterate import local_checkpoint
from ..registry import query

_N_DIM = 64


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, q: array<long>, norm2: long) with q = round(x*1000)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", quantize("embedding").alias("q"))
    return q.withColumn("norm2", norm2("q"))


def _sides(
    qdf: DataFrame, is_query: F.Column, query_label: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """brute_force_scores inputs from `_quantized` rows: the queries
    (query_id, qq, qnorm2) where `is_query`, and every row as a candidate
    (cand_id, cq, cnorm2). With `query_label`, each side also carries its
    label, named `query_label` and `cand_label`."""
    q_label = [F.col("label").alias(query_label)] if query_label else []
    c_label = [F.col("label").alias("cand_label")] if query_label else []
    queries = qdf.where(is_query).select(
        F.col("vec_id").alias("query_id"),
        *q_label,
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
    )
    cands = qdf.select(
        F.col("vec_id").alias("cand_id"),
        *c_label,
        F.col("q").alias("cq"),
        F.col("norm2").alias("cnorm2"),
    )
    return queries, cands


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k highest-`cosine` rows of each query_id, ties to the lower cand_id."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")


def brute_force_scores(
    queries: DataFrame,
    cands: DataFrame,
    cols: list[str],
    score: F.Column,
    extra: F.Column | None = None,
) -> DataFrame:
    """The exact brute-force scorer: the small `queries` side
    (query_id, …) is broadcast against one scan of `cands` (cand_id, …),
    so the candidates need no shuffle. One row per pair with
    cand_id != query_id (and `extra`, when given): `cols`, then `score`
    as `cosine`."""
    on = F.col("cand_id") != F.col("query_id")
    if extra is not None:
        on = on & extra
    return cands.join(F.broadcast(queries), on).select(*cols, score.alias("cosine"))


@query(
    "similarity_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2 FROM q
    ),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             (SELECT SUM(a.qv[i.i] * b.qv[i.i])
              FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i) AS dot
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
    ),
    scored AS (
      SELECT d.query_id, d.cand_id,
             CAST(d.dot AS DOUBLE) / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) AS cosine
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.cand_id
    )
    SELECT query_id, cand_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 exact baseline: brute-force cosine top-10 for query vectors
    (vec_id < 5) over all candidates. Integer-quantized for cross-engine
    exactness; the query side is broadcast so candidates need no shuffle.
    """
    qdf = _quantized(spark, sf_dir)
    queries, cands = _sides(qdf, F.col("vec_id") < 5)
    score = cosine(dot("qq", "cq"), "qnorm2", "cnorm2")
    return _top_k(brute_force_scores(queries, cands, ["query_id", "cand_id"], score), 10)


@query("similarity_bruteforce")  # rows-only: float accumulation order is engine-specific
def similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 production float path: zip_with + aggregate double cosine,
    top-3 per query (vec_id < 3). One JVM-side row per pair — at scale
    this is a broadcast of the query batch and a single scan of the
    candidate set."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cands = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))
    score = float_cosine(F.col("qe"), F.col("ce"))
    return _top_k(brute_force_scores(queries, cands, ["query_id", "cand_id"], score), 3)


def lsh_candidate_pairs(
    emb: DataFrame, n_bits: int | None = None, n_tables: int = 2
) -> DataFrame:
    """Random-hyperplane LSH candidate generation with band
    OR-construction: (query_id, cand_id, cosine) for every distinct pair
    sharing a bucket in ANY of `n_tables` independent hash tables.

    Each table assigns every vector a `n_bits`-bit sign signature
    (bucket id); exact cosine is computed inside buckets. Hyperplanes
    are pseudo-random ±1 derived from xxhash64(table, bit, dim) —
    deterministic, no stored model.

    Scale shape (100 TB): `n_bits` defaults to ~log2(N / 32), so the
    expected bucket population stays ~constant as N grows and the
    within-bucket self-join cost is O(N · bucket_size), never the
    (N/2^bits)² blowup of a fixed bucket count (round-1 weakness).
    Recall lost to the narrower buckets is recovered by the OR over
    `n_tables` tables. Duplicate candidates from different tables are
    collapsed on the pair key; AQE splits skewed buckets.
    """
    if n_bits is None:
        n = emb.count()  # parquet metadata count — no scan
        n_bits = max(4, (max(n, 1) // 32).bit_length())

    def hyperplane(seed: int):
        # ±1 per dim from a hash of (seed, dim); PySpark binds lambda
        # variables by arity, so the seed is captured by a factory
        def h(i):
            return (F.pmod(F.xxhash64(F.lit(seed), i), F.lit(2)) * 2 - 1).cast(
                "double"
            )

        return F.transform(F.sequence(F.lit(0), F.lit(_N_DIM - 1)), h)

    def bucket(vec, t: int):
        # n_bits sign bits of table t packed into one long
        bits = []
        for b in range(n_bits):
            s = float_dot(vec, hyperplane(t * 1024 + b))
            bits.append(F.when(s >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
        return sum(bits[1:], bits[0])

    # one row per (vector, table): explode keeps a single self-join over
    # the union of all tables instead of n_tables separate joins
    sigs = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(*[bucket(F.col("embedding"), t) for t in range(n_tables)])
        ).alias("tbl", "bucket"),
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("cand_id"),
            float_cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
        )
        # a pair colliding in several tables appears once per table with
        # an identical deterministic cosine — collapse before ranking
        .distinct()
    )


def lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_bits: int | None = None,
    n_tables: int = 2,
    k: int = 3,
) -> DataFrame:
    """LSH candidate pairs (see lsh_candidate_pairs) reranked to the
    exact-cosine top-k per query vector."""
    emb = table(spark, sf_dir, "embeddings")
    return _top_k(lsh_candidate_pairs(emb, n_bits=n_bits, n_tables=n_tables), k)


@query("similarity_lsh")  # rows-only: approximate by design
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: random-hyperplane LSH with N-adaptive bit count and
    4-table OR-construction (see lsh_topk). Candidate-pair recall vs the
    exact brute-force ground truth measured 0.18/0.34/0.42/0.62 at
    1/2/4/8 tables on the random-gaussian fixture (LSH's worst case);
    the 4-table floor is pinned in tests/test_ann_recall.py."""
    return lsh_topk(spark, sf_dir, n_tables=4)


@query(
    "dedup_embedding",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2 FROM q
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             (SELECT SUM(a.qv[i.i] * b.qv[i.i])
              FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i) AS dot
      FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT d.vec_a, d.vec_b,
           CAST(d.dot AS DOUBLE) / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
    WHERE CAST(d.dot AS DOUBLE) / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) > 0.3
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-adjacent: embedding-cosine near-duplicate pairs (same label
    blocking, quantized cosine > 0.3). Blocking on `label` is the
    partition-pruning stand-in for LSH buckets at scale."""
    qdf = _quantized(spark, sf_dir)
    a = qdf.alias("a")
    b = qdf.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", cosine(dot("a.q", "b.q"), "a.norm2", "b.norm2"))
        .where(F.col("cosine") > 0.3)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )
    return pairs


@query("dedup_embedding_lsh")  # rows-only: LSH candidate set is approximate
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 at scale: embedding near-duplicate pairs blocked by
    random-hyperplane LSH instead of the `label` column — the production
    path when no blocking key exists. Candidate pairs from 4 OR'd hash
    tables (lsh_candidate_pairs), exact cosine filter > 0.3 inside.
    Pair recall vs the exact all-pairs ground truth is pinned in
    tests/test_ann_recall.py."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        lsh_candidate_pairs(emb, n_tables=4)
        .where(F.col("cosine") > 0.3)
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("cand_id").alias("vec_b"),
            "cosine",
        )
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH q AS (
      SELECT label, CAST(t.dim AS INT) AS dim,
             CAST(round(CAST(embedding[CAST(t.dim AS INT) + 1] AS DOUBLE) * 1000)
                  AS BIGINT) AS qx
      FROM embeddings, UNNEST(range(len(embedding))) AS t(dim)
    )
    SELECT label, dim,
           CAST(SUM(qx) AS BIGINT) AS sum_q,
           COUNT(*) AS n,
           CAST(SUM(qx) AS DOUBLE) / COUNT(*) AS centroid_q
    FROM q GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 support operator: per-label centroids (the k-means/IVF training
    step and the class-prototype primitive). posexplode → one partial+
    final aggregation keyed on (label, dim); quantized to exact longs so
    the mean is a deterministic ratio of identical integers on both
    engines. At 100 TB this is the canonical mergeable-state pattern —
    (sum, count) per cell, never raw vectors, shuffle carries
    n_labels × n_dims rows."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode(quantize("embedding")).alias("dim", "qx")
    )
    return q.groupBy("label", "dim").agg(
        F.sum("qx").alias("sum_q"),
        F.count(F.lit(1)).alias("n"),
        (F.sum("qx").cast("double") / F.count(F.lit(1))).alias("centroid_q"),
    )


@query(
    "similarity_range",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2 FROM q
    ),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             (SELECT SUM(a.qv[i.i] * b.qv[i.i])
              FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i) AS dot
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 20
    )
    SELECT d.query_id, d.cand_id,
           CAST(d.dot AS DOUBLE) / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.cand_id
    WHERE d.dot > 0 AND 25 * d.dot * d.dot >= na.norm2 * nb.norm2
    """,
)
def similarity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: radius (range) search — every candidate with cosine >= 0.2 of
    each query vector (vec_id < 20), the retrieval mode dedup and
    contamination sweeps need where top-k's fixed k under- or
    over-collects.

    The threshold test never touches floats: cosine >= tau is evaluated
    as dot > 0 AND dot^2 * den >= num * |q|^2 * |c|^2 with tau^2 =
    num/den = 1/25 — all int64 (quantized values bound the products
    well under 2^63), so the boundary is bit-exact on both engines and
    the reported cosine (exact-integer operands, one IEEE division) is
    hash-identical. Same broadcast-query / scan-candidates shape as
    similarity_topk — no shuffle on the candidate side at any scale; at
    100 TB the LSH-bucketed variant (lsh_candidate_pairs) generates the
    candidates and this predicate reranks them.
    """
    qdf = _quantized(spark, sf_dir)
    queries, cands = _sides(qdf, F.col("vec_id") < 20)
    return (
        cands.join(F.broadcast(queries), F.col("cand_id") != F.col("query_id"))
        .withColumn("dot", dot("qq", "cq"))
        .where(
            (F.col("dot") > 0)
            & (F.lit(25) * F.col("dot") * F.col("dot") >= F.col("qnorm2") * F.col("cnorm2"))
        )
        .select("query_id", "cand_id", cosine("dot", "qnorm2", "cnorm2").alias("cosine"))
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
      WHERE len(embedding) > 0
    ),
    m AS (
      SELECT vec_id, qv,
             list_max(list_transform(qv, x -> abs(x))) AS maxabs
      FROM q
    ),
    c AS (
      SELECT vec_id, maxabs, len(qv) AS n_dims, CAST(t.dim AS INT) AS dim,
             qv[CAST(t.dim AS INT) + 1] AS qx,
             -- sign-explicit truncating division: abs()//positive is
             -- truncation under either // convention (floor or trunc),
             -- so this form cannot drift with the DuckDB version
             CASE WHEN maxabs = 0 THEN 0
                  WHEN qv[CAST(t.dim AS INT) + 1] >= 0
                    THEN (qv[CAST(t.dim AS INT) + 1] * 127) // maxabs
                  ELSE -((-qv[CAST(t.dim AS INT) + 1] * 127) // maxabs)
             END AS code
      FROM m, UNNEST(range(len(qv))) AS t(dim)
    )
    SELECT vec_id,
           CAST(maxabs AS BIGINT) AS maxabs,
           CAST(MAX(n_dims) AS BIGINT) AS n_dims,
           CAST(SUM(code * (dim + 1)) AS BIGINT) AS checksum,
           CAST(SUM(code * code) AS BIGINT) AS ssq,
           CAST(MAX(abs(qx * 127 - code * maxabs)) AS BIGINT) AS max_err
    FROM c GROUP BY vec_id, maxabs
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X5 compression stage: per-vector symmetric int8 quantization —
    the 4-bytes-to-1 shrink every 100 TB embedding store applies before
    ANN indexing (PQ's scalar-quantization sibling). code_i =
    (q_i * 127) div maxabs with q_i = round(x_i * 1000): all-integer,
    truncating division agrees between engines for either sign, so the
    per-vector audit (position-weighted checksum, code energy, max
    dequantization error in scaled units) is bit-exact.

    Scale shape: entirely map-side — higher-order functions per row, no
    explode, no shuffle, one output row per vector; the only wide
    operation in a real pipeline would be writing the codes back. The
    DuckDB oracle replays the same integer math via UNNEST(range())
    (this DuckDB lacks WITH ORDINALITY).
    """
    emb = table(spark, sf_dir, "embeddings")
    df = (
        # zero-length vectors are excluded on BOTH sides: the oracle's
        # UNNEST(range(0)) drops them implicitly, so Spark filters
        # explicitly to keep the contract if empty embeddings appear
        emb.where(F.size("embedding") > 0)
        .select("vec_id", quantize("embedding").alias("qv"))
        .withColumn("maxabs", F.array_max(F.transform(F.col("qv"), F.abs)))
        .withColumn(
            "codes",
            F.expr(
                "transform(qv, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (x * 127) div maxabs END)"
            ),
        )
    )
    return df.select(
        "vec_id",
        F.col("maxabs").cast("long").alias("maxabs"),
        F.size("qv").cast("long").alias("n_dims"),
        dot("codes", F.sequence(F.lit(1), F.size("codes"))).alias("checksum"),
        norm2("codes").alias("ssq"),
        F.expr(
            "aggregate(zip_with(qv, codes, (x, c) -> abs(x * 127 - c * maxabs)),"
            " CAST(0 AS BIGINT), (acc, x) -> greatest(acc, x))"
        ).alias("max_err"),
    )


@query(
    "dedup_embedding_exact",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0
    ),
    q AS (
      SELECT vec_id,
             md5(array_to_string(
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
               ',')) AS fp
      FROM corpus
    )
    SELECT vec_id,
           MIN(vec_id) OVER (PARTITION BY fp) AS keep_id,
           CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
    FROM q
    """,
)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 exact twin of dedup_embedding_lsh: byte-identical embedding
    dedup via a quantized-vector fingerprint — round(x*1000) per
    dimension (functions/vectors.quantize, the embedding_quantize
    scale), serialized canonically and md5'd to a 16-byte group key.
    The fixture has no natural duplicate vectors, so the corpus is
    seeded with a re-ingested tenth of itself under shifted ids (the
    dedup_incremental technique) — every seeded vector lands in a
    2-group whose keeper is the original id.

    Scale shape: fingerprinting is map-side (one higher-order transform
    + md5 per row); the only shuffle is the 16-byte-key group — vector
    payloads never move, exactly the dedup_exact contract. keep_id =
    min vec_id per fingerprint via a partitioned window (no
    self-join)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    fp = F.md5(F.array_join(quantize("embedding"), ",")).alias("fp")
    q = corpus.select("vec_id", fp)
    w = W.partitionBy("fp")
    return q.select(
        "vec_id",
        F.min("vec_id").over(w).alias("keep_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )


# -------------------------------------------------- cosine near-dup (X2)

# 8 deterministic sign-LSH hyperplanes with +/-1 coefficients derived
# from md5 at module load and INLINED AS LITERALS into both the Spark
# plan and the oracle SQL — no cross-engine hash-parity surface at all
import hashlib as _hashlib

_ND_PLANES = 8
_ND_COEFS: list[list[int]] = [
    [
        1 if int(_hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) < 8 else -1
        for d in range(_N_DIM)
    ]
    for p in range(_ND_PLANES)
]
# cos >= 0.95 as exact integer cross-multiplication: 0.95^2 = 361/400
_ND_THR_NUM2, _ND_THR_DEN2 = 361, 400


def _nd_oracle() -> str:
    def proj(p: int) -> str:
        lit = "[" + ",".join(str(c) for c in _ND_COEFS[p]) + "]"
        return (
            f"(SELECT SUM(qv[i.i] * ({lit})[i.i])"
            f" FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {proj(p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_ND_PLANES)
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.02)
      FROM embeddings WHERE vec_id % 10 = 0
      UNION ALL
      SELECT vec_id + 2000000,
             list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.6 + 0.25)
      FROM embeddings WHERE vec_id % 10 = 5
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM corpus
    ),
    sig AS (
      SELECT vec_id, qv,
             (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2,
             {bucket} AS bucket
      FROM q
    ),
    cand AS (
      SELECT a.vec_id AS a, b.vec_id AS b, a.norm2 AS na2, b.norm2 AS nb2,
             a.bucket AS bucket,
             (SELECT SUM(a.qv[i.i] * b.qv[i.i])
              FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i) AS num
      FROM sig a JOIN sig b ON b.bucket = a.bucket AND a.vec_id < b.vec_id
    )
    SELECT a, b, CAST(bucket AS BIGINT) AS bucket,
           CAST(num AS DOUBLE) / SQRT(CAST(na2 * nb2 AS DOUBLE)) AS cosine
    FROM cand
    WHERE num > 0 AND {_ND_THR_DEN2} * num * num >= {_ND_THR_NUM2} * na2 * nb2
    """


@query("dedup_embedding_cosine", oracle=_nd_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 embedding-cosine near-duplicate detection: pairs with cosine
    >= 0.95, candidates generated by 8-plane sign-LSH bucketing — the
    semantic-dedup pass a training pipeline runs after exact dedup
    (dedup_embedding_exact catches byte-identical vectors; this
    catches rescaled/re-encoded ones). The corpus is seeded with two
    deterministic cohorts (the fixture's random vectors are mutually
    near-orthogonal): a x1.02 rescale (cosine ~1 after quantization —
    must be caught) and a x0.6+0.25 shift (direction dominated by the
    offset, cosine far below 0.95 — must be rejected), so both sides
    of the threshold do real work.

    Determinism: hyperplane coefficients are +/-1 literals baked into
    both plans at module load (no hash-parity surface); projections,
    norms, and dot products are exact int64 over round(x*1000)
    quantized vectors; the 0.95 threshold is the integer
    cross-multiplication 400*num^2 >= 361*|a|^2*|b|^2 with num > 0
    (headroom: num < 2^27 here, num^2*400 < 2^62).

    Scale shape: signatures and projections are map-side (8
    zip_with/aggregate folds per row, JVM-side); the only shuffle is
    the bucket-keyed self-join — never all-pairs (plan-asserted); at
    real corpus sizes the plane count grows (16-24 planes / banded
    signatures) to keep buckets O(1), exactly the dedup_minhash band
    geometry."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    as_d = lambda c: c.cast("double")  # noqa: E731
    corpus = (
        emb.unionByName(
            emb.where(F.col("vec_id") % 10 == 0).select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: as_d(x) * 1.02).alias("embedding"),
            )
        ).unionByName(
            emb.where(F.col("vec_id") % 10 == 5).select(
                (F.col("vec_id") + 2_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: as_d(x) * 0.6 + 0.25).alias(
                    "embedding"
                ),
            )
        )
    )
    q = corpus.select("vec_id", quantize("embedding").alias("qv"))

    def proj(p: int) -> F.Column:
        return dot("qv", F.array(*[F.lit(c) for c in _ND_COEFS[p]]))

    bucket = sum(
        (
            F.when(proj(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(_ND_PLANES)
        ),
        start=F.lit(0),
    )
    sig = q.select(
        "vec_id", "qv", norm2("qv").alias("norm2"), bucket.alias("bucket")
    ).localCheckpoint(eager=True)
    a = sig.select(
        F.col("vec_id").alias("a"),
        F.col("qv").alias("qa"),
        F.col("norm2").alias("na2"),
        "bucket",
    )
    b = sig.select(
        F.col("vec_id").alias("b"),
        F.col("qv").alias("qb"),
        F.col("norm2").alias("nb2"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn("num", dot("qa", "qb"))
        .where(
            (F.col("num") > 0)
            & (
                _ND_THR_DEN2 * F.col("num") * F.col("num")
                >= _ND_THR_NUM2 * F.col("na2") * F.col("nb2")
            )
        )
        .select(
            "a",
            "b",
            F.col("bucket").cast("long").alias("bucket"),
            cosine("num", "na2", "nb2").alias("cosine"),
        )
    )


@query(
    "embedding_outlier_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    dims AS (
      SELECT label, t.i AS i, CAST(SUM(qv[CAST(t.i AS INT)]) AS BIGINT) AS s
      FROM q, UNNEST(range(1, {_N_DIM + 1})) AS t(i)
      GROUP BY label, t.i
    ),
    cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY label),
    d AS (
      SELECT q.vec_id, q.label,
             CAST(SUM(POWER(cnt.n * qv[CAST(dims.i AS INT)] - dims.s, 2))
                  AS BIGINT) AS d2n2
      FROM q
      JOIN cnt ON cnt.label = q.label
      JOIN dims ON dims.label = q.label
      GROUP BY q.vec_id, q.label
    )
    SELECT label, vec_id, d2n2,
           CAST(ROUND(sqrt(CAST(d2n2 AS DOUBLE)) / n / 1000 * 1e9) AS BIGINT)
             AS dist_nanos
    FROM (
      SELECT d.*, cnt.n,
             row_number() OVER (PARTITION BY d.label
                                ORDER BY d2n2 DESC, vec_id) AS rn
      FROM d JOIN cnt ON cnt.label = d.label
    ) WHERE rn <= 5
    """,
)
def embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the 5 vectors farthest from their
    own label's centroid — the mislabeled/noisy-sample screen a
    curation pipeline runs before contrastive training. Exactness by
    clearing the centroid's denominator: with per-dim label sums S_d
    and count n, ||x - S/n||^2 * n^2 = sum_d (n*x_d - S_d)^2 is an
    EXACT int64 over the quantized vectors, so the per-label ranking
    is pure integer comparison (ties by vec_id); only the surfaced
    distance (sqrt/n, de-quantized) is double, int-nanos rounded.

    Scale shape: per-dim sums via one posexplode aggregate (map-side
    combinable, O(#labels x dims) output); the sums fold back as ONE
    broadcast array per label (sort_array over collected (dim, sum)
    structs), the distance is one `vectors.sq_dist` fold scaled by n —
    no per-dim join amplification on the data side; top-5 per label
    compiles to WindowGroupLimit."""
    q = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize("embedding").alias("qv")
    )
    dims = (
        q.select("label", F.posexplode("qv").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").alias("s"))
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "s"))), lambda st: st["s"]
        ).alias("sv")
    )
    cnt = q.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    d2n2 = sq_dist("qv", "sv", scale=F.col("n"))
    d = (
        q.join(F.broadcast(cent), "label")
        .join(F.broadcast(cnt), "label")
        .select("label", "vec_id", "n", d2n2.alias("d2n2"))
    )
    w = W.partitionBy("label").orderBy(F.col("d2n2").desc(), "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "label",
            "vec_id",
            "d2n2",
            F.round(F.sqrt(F.col("d2n2").cast("double")) / F.col("n") / 1000 * 1e9)
            .cast("long")
            .alias("dist_nanos"),
        )
    )


@query(
    "embedding_covariance",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM q),
    s1 AS (
      SELECT t.i AS i, CAST(SUM(qv[CAST(t.i AS INT)]) AS HUGEINT) AS s
      FROM q, UNNEST(range(1, {_N_DIM + 1})) AS t(i)
      GROUP BY t.i
    ),
    s2 AS (
      SELECT ti.i AS i, tj.j AS j,
             SUM(CAST(qv[CAST(ti.i AS INT)] AS HUGEINT)
                 * qv[CAST(tj.j AS INT)]) AS sij
      FROM q,
           UNNEST(range(1, {_N_DIM + 1})) AS ti(i),
           UNNEST(range(1, {_N_DIM + 1})) AS tj(j)
      WHERE tj.j >= ti.i
      GROUP BY ti.i, tj.j
    )
    SELECT CAST(s2.i AS BIGINT) AS i, CAST(s2.j AS BIGINT) AS j,
           CAST(n.n * s2.sij - a.s * b.s AS BIGINT) AS cov_n2
    FROM s2
    CROSS JOIN n
    JOIN s1 a ON a.i = s2.i
    JOIN s1 b ON b.i = s2.j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 feature diagnostic: the EXACT d x d covariance matrix of the
    embedding dimensions (upper triangle as (i, j) rows — the
    whitening / PCA-input statistic a representation-quality check
    computes before training). Exactness by clearing denominators:
    cov_ij * n^2 = n * S_ij - S_i * S_j over the integer-quantized
    vectors, every term a DECIMAL(38,0) product of exact sums, so the
    surfaced value is a pure integer — no float ever enters the hash
    (the corr_pairs / embedding_outlier_topk discipline).

    Scale shape (100 TB): the d^2 cross-moment sums come from ONE
    chained-posexplode pass over the vectors aggregated on (i, j) —
    hash aggregation is map-side combinable onto d(d+1)/2 = 2080 keys,
    so the shuffle carries O(partitions x d^2) partial sums, never
    O(n x d^2) rows; the per-dim sums (d rows) and the count broadcast
    back onto the 2080-row table. Nothing in the plan scales with n
    except the single scan."""
    q = table(spark, sf_dir, "embeddings").select(quantize("embedding").alias("qv"))
    n_df = q.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    e1 = q.select("qv", F.posexplode("qv").alias("i0", "xi"))
    e2 = e1.select("i0", "xi", F.posexplode("qv").alias("j0", "xj")).where(
        F.col("j0") >= F.col("i0")
    )
    s2 = e2.groupBy("i0", "j0").agg(
        F.sum((F.col("xi") * F.col("xj")).cast("decimal(38,0)")).alias("sij")
    )
    s1 = (
        q.select(F.posexplode("qv").alias("i0", "x"))
        .groupBy("i0")
        .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
    )
    return (
        s2.crossJoin(F.broadcast(n_df))
        .join(
            F.broadcast(s1.select(F.col("i0").alias("ia"), F.col("s").alias("sa"))),
            F.col("i0") == F.col("ia"),
        )
        .join(
            F.broadcast(s1.select(F.col("i0").alias("jb"), F.col("s").alias("sb"))),
            F.col("j0") == F.col("jb"),
        )
        .select(
            (F.col("i0") + 1).cast("long").alias("i"),
            (F.col("j0") + 1).cast("long").alias("j"),
            (F.col("n") * F.col("sij") - F.col("sa") * F.col("sb"))
            .cast("long")
            .alias("cov_n2"),
        )
    )


@query(
    "hard_negative_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2
      FROM q
    ),
    dots AS (
      SELECT a.vec_id AS query_id, a.label AS query_label,
             b.vec_id AS cand_id, b.label AS cand_label,
             (SELECT SUM(a.qv[i.i] * b.qv[i.i])
              FROM (SELECT unnest(range(1, {64 + 1})) AS i) i) AS dot
      FROM q a JOIN q b ON b.vec_id <> a.vec_id AND b.label <> a.label
      WHERE a.vec_id < 8
    ),
    scored AS (
      SELECT d.query_id, d.cand_id, d.cand_label,
             CAST(d.dot AS DOUBLE)
               / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) AS cosine
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.cand_id
    )
    SELECT query_id, cand_id, cand_label, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 training-data miner: HARD NEGATIVES for contrastive training —
    per query vector, the top-5 most-similar candidates whose LABEL
    DIFFERS (the near-miss examples a retrieval/embedding trainer needs;
    random negatives are too easy, same-label neighbors are positives).
    Same broadcast-query brute-force shape as `similarity_topk` with the
    label disagreement folded into the join condition, so same-label
    pairs are pruned BEFORE scoring; integer-quantized dot products make
    the ranking engine-portable, and the top-5 cut compiles to
    WindowGroupLimit. At scale the query batch broadcasts and the
    candidate set streams map-side — one scan, no shuffle; the LSH/IVF
    candidate generators (same file) slot in front unchanged when the
    candidate set outgrows a scan."""
    qdf = _quantized(spark, sf_dir)
    queries, cands = _sides(qdf, F.col("vec_id") < 8, "query_label")
    scored = brute_force_scores(
        queries,
        cands,
        ["query_id", "cand_id", "cand_label"],
        cosine(dot("qq", "cq"), "qnorm2", "cnorm2"),
        extra=F.col("cand_label") != F.col("query_label"),
    )
    return _top_k(scored, 5)


# label_noise_knn candidate generation: 8 bands x 6 sign-planes of
# random-hyperplane LSH over the quantized vectors. Coefficients are
# +/-1 literals derived from md5 at module load and baked into BOTH the
# Spark plan and the oracle SQL (no cross-engine hash-parity surface),
# the same construction as _ND_COEFS above. Geometry measured on the
# fixture (near-orthogonal random vectors, the adversarial case for
# sign-LSH): candidate density ~12.6% of the corpus per query, top-5
# candidate recall ~32% (tests/test_round16_ops.py pins a 20% floor
# against the brute-force scorer). Real embedding corpora cluster far
# more tightly (top-5 cosines 0.7+ where per-band collision is 5-20x
# higher), and at larger corpora the plane count grows with log(n) to
# keep buckets O(1) — the dedup_minhash band geometry.
_KNN_BANDS, _KNN_PLANES = 8, 6
_KNN_COEFS: list[list[int]] = [
    [
        1 if int(_hashlib.md5(f"knn:{p}:{d}".encode()).hexdigest()[0], 16) < 8 else -1
        for d in range(_N_DIM)
    ]
    for p in range(_KNN_BANDS * _KNN_PLANES)
]


def _knn_oracle() -> str:
    def proj(band: int, p: int) -> str:
        lit = "[" + ",".join(str(c) for c in _KNN_COEFS[band * _KNN_PLANES + p]) + "]"
        return (
            f"(SELECT SUM(qv[i.i] * ({lit})[i.i])"
            f" FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i)"
        )

    def bucket(band: int) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(band, p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(_KNN_PLANES)
        )

    band_cols = ",\n             ".join(
        f"({bucket(t)}) AS b{t}" for t in range(_KNN_BANDS)
    )
    band_case = " ".join(f"WHEN {t} THEN b{t}" for t in range(_KNN_BANDS))
    band_vals = ",".join(f"({t})" for t in range(_KNN_BANDS))
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id, label, qv,
             (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2,
             {band_cols}
      FROM q
    ),
    bands AS (
      SELECT vec_id, label, qv, norm2, t.band,
             CASE t.band {band_case} END AS bucket
      FROM sig, (VALUES {band_vals}) t(band)
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS query_id, a.label AS own_label,
             a.norm2 AS na2, b.vec_id AS cand_id, b.label AS cand_label,
             b.norm2 AS nb2,
             (SELECT SUM(a.qv[i.i] * b.qv[i.i])
              FROM (SELECT unnest(range(1, {_N_DIM + 1})) AS i) i) AS num
      FROM bands a
      JOIN bands b ON b.band = a.band AND b.bucket = a.bucket
                  AND b.vec_id <> a.vec_id
      WHERE a.vec_id % 4 = 0
    ),
    top5 AS (
      SELECT query_id, own_label, cand_label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id
          ORDER BY CAST(num AS DOUBLE) / SQRT(CAST(na2 * nb2 AS DOUBLE)) DESC,
                   cand_id) AS rn
        FROM pairs
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, own_label, cand_label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM top5 GROUP BY 1, 2, 3
    ),
    majority AS (
      SELECT query_id, own_label, cand_label AS knn_label, n_votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, cand_label) AS mr
        FROM votes
      ) WHERE mr = 1
    )
    SELECT query_id AS vec_id, CAST(own_label AS BIGINT) AS label,
           CAST(knn_label AS BIGINT) AS knn_label, n_votes,
           CAST(CASE WHEN own_label <> knn_label THEN 1 ELSE 0 END AS BIGINT)
             AS flagged
    FROM majority
    """


@query("label_noise_knn", oracle=_knn_oracle())
def label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 training-data quality: kNN LABEL-NOISE detection (the
    confident-learning heuristic) — for each audited vector, the
    majority label among its 5 nearest LSH-candidate neighbors; a row
    is FLAGGED when its own label disagrees, surfacing probable
    mislabeled examples before they poison a training run. Audit set =
    vec_id % 4 == 0 (auditing is a sampled activity).

    Re-registered in r16 (VERDICT r15 #1): candidates now come from an
    8-band x 6-plane sign-LSH bucket EQUI-JOIN — the same machinery as
    dedup_embedding_cosine — instead of the brute-force broadcast
    nested-loop over a proportional sample, which was the registry's
    last O(n^2) compute shape. The oracle applies the IDENTICAL
    candidate generation (coefficients baked into both plans at module
    load), so the differential check is exact-within-candidates; a
    separate recall-floor test compares the candidate sets against the
    retained brute-force scorer (_label_noise_knn_brute) at sf<=0.01.

    Majority ties break (votes DESC, label ASC) on both engines; the
    cosine ranking reuses the integer-quantized dot + double ratio the
    whole X3 family shares, so ordering is bit-identical cross-engine.
    Scale shape: 48 sign projections are map-side JVM folds; the only
    shuffles are the (band, bucket) equi-join and the pair-dedupe
    aggregate — never all-pairs (plan-asserted: no
    BroadcastNestedLoopJoin / CartesianProduct); top-5 compiles to a
    partitioned window; votes/majority are O(5 * #queries)."""
    qdf = _quantized(spark, sf_dir)

    def proj(band: int, p: int) -> F.Column:
        return dot("q", F.array(*[F.lit(c) for c in _KNN_COEFS[band * _KNN_PLANES + p]]))

    def bucket(band: int) -> F.Column:
        return sum(
            (
                F.when(proj(band, p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
                for p in range(_KNN_PLANES)
            ),
            start=F.lit(0),
        )

    sig = qdf.select(
        "vec_id",
        "label",
        "q",
        "norm2",
        F.array(*[bucket(t) for t in range(_KNN_BANDS)]).alias("bks"),
    )
    # Compute the 48 projections ONCE; both join sides re-read the
    # checkpointed signatures instead of re-folding them.
    sig = local_checkpoint(sig)
    bands = sig.select(
        "vec_id", "label", "q", "norm2", F.posexplode("bks").alias("band", "bucket")
    )
    queries = bands.where(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("own_label"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("na2"),
        "band",
        "bucket",
    )
    cands = bands.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("q").alias("cq"),
        F.col("norm2").alias("nb2"),
        "band",
        "bucket",
    )
    # A pair sharing multiple bands appears once per band; num/norms are
    # functions of the pair, so a distinct over the scalar columns
    # dedupes in one shuffle without carrying the vectors.
    pairs = (
        queries.join(cands, ["band", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("num", dot("qq", "cq"))
        .select(
            "query_id", "own_label", "na2", "cand_id", "cand_label", "nb2", "num"
        )
        .distinct()
    )
    return _knn_label_votes(pairs.withColumn("cosine", cosine("num", "na2", "nb2")))


def _knn_label_votes(scored: DataFrame) -> DataFrame:
    """The label-noise tail shared by both candidate generators: the 5
    highest-cosine candidates of each query vote with their labels; the
    majority (votes DESC, label ASC) is knn_label, and a row is flagged
    when it disagrees with the vector's own label."""
    top5 = _top_k(scored, 5).select("query_id", "own_label", "cand_label")
    votes = top5.groupBy("query_id", "own_label", "cand_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wm = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "cand_label")
    majority = (
        votes.withColumn("mr", F.row_number().over(wm))
        .where(F.col("mr") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("own_label").cast("long").alias("label"),
            F.col("cand_label").cast("long").alias("knn_label"),
            "n_votes",
        )
    )
    return majority.withColumn(
        "flagged",
        F.when(F.col("label") != F.col("knn_label"), 1).otherwise(0).cast("long"),
    )


def _label_noise_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r16 brute-force form of label_noise_knn, retained
    UNREGISTERED as the recall-floor reference: exact 5-NN over all
    candidates via a broadcast of the proportional audit sample — the
    O(n^2) shape VERDICT r15 flagged, fine as a small-sf test oracle
    but never the plan to run at scale. tests/test_round16_ops.py
    compares the LSH candidate sets against this scorer's true top-5
    and pins the measured recall floor."""
    qdf = _quantized(spark, sf_dir)
    queries, cands = _sides(qdf, F.col("vec_id") % 4 == 0, "own_label")
    scored = brute_force_scores(
        queries,
        cands,
        ["query_id", "own_label", "cand_id", "cand_label"],
        cosine(dot("qq", "cq"), "qnorm2", "cnorm2"),
    )
    return _knn_label_votes(scored)


@query(
    "embedding_anisotropy",
    oracle="""
    WITH q AS (
      SELECT vec_id, i.i AS pos,
             CAST(ROUND(CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) * 1000)
                  AS BIGINT) AS v
      FROM embeddings, UNNEST(range(len(embedding))) AS i(i)
    ),
    dims AS (
      SELECT pos, CAST(SUM(v) AS BIGINT) AS s FROM q GROUP BY pos
    ),
    gl AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM dims) AS dim,
             (SELECT CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) FROM dims)
               AS norm_sq_of_sum,
             (SELECT CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) FROM q)
               AS sum_self_sq
    )
    SELECT n, dim,
           CAST(sum_self_sq AS BIGINT) AS sum_self_sq,
           CAST(norm_sq_of_sum - sum_self_sq AS BIGINT) AS cross_sum,
           CAST(((norm_sq_of_sum - sum_self_sq) * 1000000000)
                // (n * (n - 1)) AS BIGINT) AS mean_pair_dot_nanos,
           CAST(((norm_sq_of_sum - sum_self_sq) * 1000000000)
                // ((n - 1) * sum_self_sq) AS BIGINT) AS anisotropy_ratio_nanos
    FROM gl
    """,
)
def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy diagnostic of the embedding space: the mean pairwise
    dot product over ALL n(n-1) ordered pairs, computed WITHOUT any
    pairwise join via the Gram identity  sum_{i != j} <x_i, x_j> =
    ||sum_i x_i||^2 - sum_i ||x_i||^2  — and the normalized anisotropy
    index (mean pair dot / mean self dot). Embeddings trained with the
    usual contrastive objectives collapse into a narrow cone (mean
    cross-dot drifts far from 0); this is the one-row readout a
    retrieval pipeline checks before trusting raw cosine. Vectors are
    integer-quantized (round(x*1000), the similarity-suite convention)
    so both sides of the identity are exact DECIMAL(38,0)/HUGEINT sums;
    the two ratios are exact integer divisions, nano-quantized.

    Scale shape (100 TB): one posexplode -> per-dimension sum (dim
    groups, map-side combinable) plus one per-row self-dot aggregate —
    the quadratic pair sum is computed in CLOSED FORM, never joined.
    O(n*d) work, O(d) shuffle rows, constant output."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize("embedding").alias("q"))
    selfsq = q.select(
        F.aggregate(
            "q", F.lit(0).cast("decimal(38,0)"), lambda acc, x: acc + x * x
        ).alias("ss")
    ).agg(F.sum("ss").cast("decimal(38,0)").alias("sum_self_sq"))
    dims = (
        q.select(F.posexplode("q").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").cast("long").alias("s"))
    )
    gl = dims.agg(
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
        .cast("decimal(38,0)")
        .alias("norm_sq_of_sum"),
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cross = F.col("norm_sq_of_sum") - F.col("sum_self_sq")
    return (
        gl.crossJoin(F.broadcast(selfsq))
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            "dim",
            F.col("sum_self_sq").cast("long").alias("sum_self_sq"),
            cross.cast("long").alias("cross_sum"),
            F.expr(
                "((norm_sq_of_sum - sum_self_sq) * 1000000000) div (n * (n - 1))"
            )
            .cast("long")
            .alias("mean_pair_dot_nanos"),
            F.expr(
                "((norm_sq_of_sum - sum_self_sq) * 1000000000)"
                " div ((n - 1) * sum_self_sq)"
            )
            .cast("long")
            .alias("anisotropy_ratio_nanos"),
        )
    )


@query(
    "embedding_mmd_drift",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             CASE WHEN ('0x' || substr(md5('mmd' || CAST(vec_id AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 'a' ELSE 'b' END AS grp,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    s2 AS (
      SELECT grp, ti.i AS i, tj.j AS j,
             CAST(SUM(CAST(qv[CAST(ti.i AS INT)] AS HUGEINT)
                      * qv[CAST(tj.j AS INT)]) AS HUGEINT) AS sij
      FROM q,
           UNNEST(range(1, {_N_DIM + 1})) AS ti(i),
           UNNEST(range(1, {_N_DIM + 1})) AS tj(j)
      WHERE tj.j >= ti.i
      GROUP BY grp, ti.i, tj.j
    ),
    inner_ AS (
      SELECT vec_id, grp,
             CAST(SUM(CAST(qv[CAST(t.i AS INT)] AS HUGEINT)
                      * qv[CAST(t.i AS INT)]) AS HUGEINT) AS ss
      FROM q, UNNEST(range(1, {_N_DIM + 1})) AS t(i)
      GROUP BY vec_id, grp
    ),
    sk AS (
      SELECT grp, CAST(SUM(ss * ss) AS HUGEINT) AS s_self,
             CAST(COUNT(*) AS HUGEINT) AS m
      FROM inner_ GROUP BY grp
    ),
    frob AS (
      SELECT
        (SELECT CAST(SUM((CASE WHEN i = j THEN 1 ELSE 2 END) * sij * sij)
                     AS HUGEINT) FROM s2 WHERE grp = 'a') AS paa,
        (SELECT CAST(SUM((CASE WHEN i = j THEN 1 ELSE 2 END) * sij * sij)
                     AS HUGEINT) FROM s2 WHERE grp = 'b') AS pbb,
        (SELECT CAST(SUM((CASE WHEN a.i = a.j THEN 1 ELSE 2 END) * a.sij * b.sij)
                     AS HUGEINT)
         FROM s2 a JOIN s2 b ON b.i = a.i AND b.j = a.j
         WHERE a.grp = 'a' AND b.grp = 'b') AS pab,
        (SELECT s_self FROM sk WHERE grp = 'a') AS sa,
        (SELECT s_self FROM sk WHERE grp = 'b') AS sb,
        (SELECT m FROM sk WHERE grp = 'a') AS ma,
        (SELECT m FROM sk WHERE grp = 'b') AS mb
    )
    SELECT CAST(ma AS BIGINT) AS m_a,
           CAST(mb AS BIGINT) AS n_b,
           CAST((paa - sa) // (ma * (ma - 1)) AS BIGINT) AS mean_within_a,
           CAST((pbb - sb) // (mb * (mb - 1)) AS BIGINT) AS mean_within_b,
           CAST(pab // (ma * mb) AS BIGINT) AS mean_cross,
           CAST((paa - sa) // (ma * (ma - 1))
                + (pbb - sb) // (mb * (mb - 1))
                - 2 * (pab // (ma * mb)) AS BIGINT) AS mmd2_q
    FROM frob
    """,
)
def embedding_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample kernel MMD^2 drift test between md5 halves of the
    embedding table under the quadratic kernel k(x,y) = (x.y)^2 — the
    distribution-level answer to "did my embedding space move between
    snapshots/splits?" (split_drift_psi tests one scalar; this tests
    the joint vector distribution). The kernel sums are CLOSED FORM:
    sum_{x in A, y in B} (x.y)^2 = <M_A, M_B>_F where M_g = sum x x^T
    is the d x d second-moment matrix — so the |A||B| pair sum becomes
    a Frobenius product of two 2080-entry (upper-triangle, weight 2
    off-diagonal) integer matrices; within-group sums subtract the
    exact self-kernel sum_x ||x||^4. Unbiased MMD^2 = mean within_A +
    mean within_B - 2 mean cross, every mean an exact HUGEINT/
    DECIMAL(38,0) integer division at the kernel's natural scale
    (values ~1e10+ — quantization already provides the resolution).

    Scale shape (100 TB): the embedding_covariance chained-posexplode
    shape per group — ONE scan, map-side-combinable hash aggregation
    onto 2 x 2080 moment keys, a 2080-row self-join for the cross
    term, two O(n) row-local folds for ||x||^4. Nothing pairwise,
    nothing scales with n except the scan."""
    grp = F.when(
        md5_int("mmd", F.col("vec_id"), digits=1) < 8, F.lit("a")
    ).otherwise(F.lit("b"))
    q = table(spark, sf_dir, "embeddings").select(
        "vec_id", grp.alias("grp"), quantize("embedding").alias("qv")
    )
    e1 = q.select("grp", "qv", F.posexplode("qv").alias("i0", "xi"))
    e2 = e1.select("grp", "i0", "xi", F.posexplode("qv").alias("j0", "xj")).where(
        F.col("j0") >= F.col("i0")
    )
    s2 = e2.groupBy("grp", "i0", "j0").agg(
        F.sum((F.col("xi").cast("decimal(38,0)") * F.col("xj"))).cast("decimal(38,0)").alias("sij")
    )
    w = F.when(F.col("i0") == F.col("j0"), 1).otherwise(2)
    within = s2.groupBy("grp").agg(
        F.sum(w * F.col("sij") * F.col("sij")).cast("decimal(38,0)").alias("p")
    )
    a2 = s2.where(F.col("grp") == "a").select("i0", "j0", F.col("sij").alias("sa"))
    b2 = s2.where(F.col("grp") == "b").select("i0", "j0", F.col("sij").alias("sb"))
    pab = a2.join(b2, ["i0", "j0"]).agg(
        F.sum(w * F.col("sa") * F.col("sb")).cast("decimal(38,0)").alias("pab")
    )
    selfk = (
        q.select(
            "grp",
            F.aggregate(
                "qv", F.lit(0).cast("decimal(38,0)"), lambda acc, x: acc + x * x
            ).alias("ss"),
        )
        .groupBy("grp")
        .agg(
            F.sum(F.col("ss") * F.col("ss")).cast("decimal(38,0)").alias("s_self"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
    )
    g = within.join(selfk, "grp").select(
        "grp", "p", "s_self", "m"
    )
    ga = g.where(F.col("grp") == "a").select(
        F.col("p").alias("paa"), F.col("s_self").alias("sa"), F.col("m").alias("ma")
    )
    gb = g.where(F.col("grp") == "b").select(
        F.col("p").alias("pbb"), F.col("s_self").alias("sb"), F.col("m").alias("mb")
    )
    t1 = F.expr("(paa - sa) div (cast(ma as decimal(38,0)) * (ma - 1))")
    t2 = F.expr("(pbb - sb) div (cast(mb as decimal(38,0)) * (mb - 1))")
    t3 = F.expr("pab div (cast(ma as decimal(38,0)) * mb)")
    return (
        ga.crossJoin(F.broadcast(gb))
        .crossJoin(F.broadcast(pab))
        .select(
            F.col("ma").alias("m_a"),
            F.col("mb").alias("n_b"),
            t1.cast("long").alias("mean_within_a"),
            t2.cast("long").alias("mean_within_b"),
            t3.cast("long").alias("mean_cross"),
            (t1 + t2 - 2 * t3).cast("long").alias("mmd2_q"),
        )
    )


_PCA_ROUNDS = 32


def _pca_power_oracle(rounds: int = _PCA_ROUNDS) -> str:
    """Unrolled power-iteration oracle (the ktruss/wallet-CC linear
    pattern): one CTE trio per round — matrix-vector product, max-abs
    rescale denominator, integer renormalization. HUGEINT throughout;
    headroom: |cv| < 1e16 at sf0.1, x v (1e6) x 64 dims < 1e24."""
    blocks = []
    prev = "v0"
    for r in range(1, rounds + 1):
        blocks.append(
            f"""    w{r} AS MATERIALIZED (
      SELECT c.i AS i, SUM(c.cv * {prev}.v) AS w
      FROM cov2 c JOIN {prev} ON {prev}.i = c.j GROUP BY c.i
    ),
    v{r} AS MATERIALIZED (
      SELECT i,
             CASE WHEN w < 0 THEN -1 ELSE 1 END
               * ((ABS(w) * 1000000) // (MAX(ABS(w)) OVER ())) AS v
      FROM w{r}
    )"""
        )
        prev = f"v{r}"
    body = ",\n".join(blocks)
    return f"""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM q),
    s1 AS (
      SELECT t.i AS i, CAST(SUM(qv[CAST(t.i AS INT)]) AS HUGEINT) AS s
      FROM q, UNNEST(range(1, {_N_DIM + 1})) AS t(i)
      GROUP BY t.i
    ),
    s2 AS (
      SELECT ti.i AS i, tj.j AS j,
             SUM(CAST(qv[CAST(ti.i AS INT)] AS HUGEINT)
                 * qv[CAST(tj.j AS INT)]) AS sij
      FROM q,
           UNNEST(range(1, {_N_DIM + 1})) AS ti(i),
           UNNEST(range(1, {_N_DIM + 1})) AS tj(j)
      GROUP BY ti.i, tj.j
    ),
    cov AS MATERIALIZED (
      SELECT s2.i, s2.j, n.nn * s2.sij - a.s * b.s AS cv
      FROM s2 CROSS JOIN n
      JOIN s1 a ON a.i = s2.i
      JOIN s1 b ON b.i = s2.j
    ),
    c2r AS (
      SELECT a.i AS i, b.j AS j, SUM(a.cv * b.cv) AS cv
      FROM cov a JOIN cov b ON b.i = a.j
      GROUP BY a.i, b.j
    ),
    cov2 AS MATERIALIZED (
      SELECT i, j,
             CASE WHEN cv < 0 THEN -1 ELSE 1 END
               * ((ABS(cv) * 1000000000000) // (MAX(ABS(cv)) OVER ())) AS cv
      FROM c2r
    ),
    v0 AS (
      SELECT t.i AS i, CAST(1000000 AS HUGEINT) AS v
      FROM UNNEST(range(1, {_N_DIM + 1})) AS t(i)
    ),
{body}
    SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_micros
    FROM v{rounds}
    """


@query("embedding_pca_power", oracle=_pca_power_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 representation diagnostic: the TOP PRINCIPAL DIRECTION of the
    embedding cloud by deterministic POWER ITERATION over the exact
    integer covariance — the first step of PCA whitening / spectral
    embedding-quality checks (a collapsed top direction with a huge
    eigengap is the anisotropy pathology `embedding_anisotropy`
    measures in aggregate; this key surfaces the direction itself).

    Exactness across engines without floats: the covariance is the
    cleared-denominator integer matrix of `embedding_covariance`
    (cov*n^2 = n*S_ij - S_i*S_j); iteration state v is an integer
    vector renormalized each round to max-abs = 1e6 by non-negative
    floor division with the sign reapplied (floor-of-abs + CASE sign,
    identical on both engines; never a negative integer division,
    whose floor/trunc semantics differ). The matrix is SQUARED once
    (renormalized to max-abs 1e12) so each of the 32 fixed rounds does
    the work of two — the synthetic fixture embeddings are nearly
    isotropic (eigengap ~1.07, the hard case; real embedding clouds
    are strongly anisotropic and converge much faster) — and both
    engines run the IDENTICAL arithmetic, so the result value-hashes
    even where the iteration hasn't fully converged; convergence to
    numpy's eigenvector is pinned separately in tests.

    Scale shape (100 TB): the ONLY data-sized work is the one
    chained-posexplode moment pass (same as embedding_covariance, d^2
    map-side-combinable keys); the d x d integer matrix is
    local-checkpointed ONCE (plus one d^3 squaring join over the d^2
    table) and the 32 rounds run as broadcast joins over 64-row
    vectors — iteration cost is independent of
    corpus size. Rounds is an accuracy knob (eigengap-dependent),
    not a scale knob."""
    q = table(spark, sf_dir, "embeddings").select(quantize("embedding").alias("qv"))
    n_df = q.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nn"))
    e1 = q.select("qv", F.posexplode("qv").alias("i0", "xi"))
    e2 = e1.select("i0", "xi", F.posexplode("qv").alias("j0", "xj"))
    s2 = e2.groupBy("i0", "j0").agg(
        F.sum((F.col("xi") * F.col("xj")).cast("decimal(38,0)")).alias("sij")
    )
    s1 = (
        q.select(F.posexplode("qv").alias("i0", "x"))
        .groupBy("i0")
        .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
    )
    cov = (
        s2.crossJoin(F.broadcast(n_df))
        .join(
            F.broadcast(s1.select(F.col("i0").alias("ia"), F.col("s").alias("sa"))),
            F.col("i0") == F.col("ia"),
        )
        .join(
            F.broadcast(s1.select(F.col("i0").alias("jb"), F.col("s").alias("sb"))),
            F.col("j0") == F.col("jb"),
        )
        .select(
            F.col("i0").alias("i"),
            F.col("j0").alias("j"),
            (F.col("nn") * F.col("sij") - F.col("sa") * F.col("sb")).alias("cv"),
        )
    )
    # one eager checkpoint: the corpus-sized moment pass runs exactly
    # once; every iteration round reuses the 4096-row integer matrix
    cov = local_checkpoint(cov)
    # square the matrix once (eigengap -> gap^2: each iteration round
    # does the work of two) and renormalize entries to max-abs 1e12 by
    # the same sign-split floor division used for v
    ca = cov.select(F.col("i").alias("ai"), F.col("j").alias("ak"), F.col("cv").alias("acv"))
    cb = cov.select(F.col("i").alias("bk"), F.col("j").alias("bj"), F.col("cv").alias("bcv"))
    c2 = (
        ca.join(F.broadcast(cb), F.col("ak") == F.col("bk"))
        .groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
        .agg(F.sum(F.col("acv") * F.col("bcv")).alias("cv"))
    )
    cov = local_checkpoint(
        c2.select(
            "i",
            "j",
            (
                F.when(F.col("cv") < 0, -1).otherwise(1)
                * F.expr("(ABS(cv) * 1000000000000) div (MAX(ABS(cv)) OVER ())")
            )
            .cast("decimal(38,0)")
            .alias("cv"),
        )
    )
    v = spark.range(_N_DIM).select(
        F.col("id").alias("vi"), F.lit(1000000).cast("decimal(38,0)").alias("v")
    )
    for _ in range(_PCA_ROUNDS):
        w = (
            cov.join(F.broadcast(v), cov["j"] == F.col("vi"))
            .groupBy("i")
            .agg(F.sum(F.col("cv") * F.col("v")).alias("w"))
        )
        # the rescale denominator rides a full-frame window over the
        # 64-row aggregate (sweep-exempt bounded shape) so each round
        # references w exactly ONCE -- a second aggregate branch would
        # DOUBLE the lineage per round (2^rounds plan blowup)
        v = w.select(
            F.col("i").alias("vi"),
            (
                F.when(F.col("w") < 0, -1).otherwise(1)
                * F.expr("(ABS(w) * 1000000) div (MAX(ABS(w)) OVER ())")
            )
            .cast("decimal(38,0)")
            .alias("v"),
        )
    return v.select(
        (F.col("vi") + 1).cast("long").alias("dim"),
        F.col("v").cast("long").alias("v_micros"),
    )


_RP_DIMS = 8  # projected dimensionality


@query(
    "embedding_random_projection",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
      WHERE len(embedding) > 0
    ),
    pos AS (
      SELECT vec_id, CAST(t.dim AS BIGINT) AS i,
             qv[CAST(t.dim AS INT) + 1] AS qx
      FROM q, UNNEST(range(len(qv))) AS t(dim)
    ),
    dims AS (SELECT DISTINCT i FROM pos),
    signs AS (
      SELECT j.j, d.i,
             CASE WHEN ('0x' || substr(md5('rp:' || CAST(j.j AS VARCHAR)
                        || ':' || CAST(d.i AS VARCHAR)), 1, 1))::BIGINT < 8
                  THEN 1 ELSE -1 END AS s
      FROM dims d, UNNEST(range({_RP_DIMS})) AS j(j)
    )
    SELECT p.vec_id, CAST(s.j AS BIGINT) AS proj_dim,
           CAST(SUM(s.s * p.qx) AS BIGINT) AS y
    FROM pos p JOIN signs s ON s.i = p.i
    GROUP BY p.vec_id, s.j
    ORDER BY vec_id, proj_dim
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM ±1 PROJECTION of the embedding table to {_RP_DIMS}
    dimensions — the Achlioptas/JL sketch every 100 TB vector pipeline
    uses to cheapen distance math before clustering or as extra LSH
    coordinates: y_j = Σ_i sign(j,i)·x_i with the sign matrix derived
    from md5('rp:', j, i) (first nibble < 8 → +1), so the "random"
    matrix is a pure function of the dimension indices — reproducible
    on any engine, partitioning, or retry (the random_walk_sample
    determinism contract). Inputs are the standard round(x·1000)
    integer quantization, so every projected coordinate is an exact
    int64 sum and the row set value-hashes bit-for-bit. E[y_j²] = ‖x‖²
    per the JL lemma — dot products survive in expectation with d/k
    variance.

    Scale shape: one posexplode over the vectors (O(rows·d), the
    explode-side cost every vectorized kernel here avoids is accepted
    ONCE to build a reusable 8-d sketch), joined against the
    O(d·{_RP_DIMS}) broadcast sign table (built FROM the data's own
    distinct dimension indices — no hardcoded width), one hash
    aggregate back to (vec_id, j). Nothing pairwise, no windows."""
    emb = table(spark, sf_dir, "embeddings")
    pos = (
        emb.where(F.size("embedding") > 0)
        .select("vec_id", F.posexplode(quantize("embedding")).alias("i", "qx"))
        .select("vec_id", F.col("i").cast("long").alias("i"), "qx")
    )
    dims = pos.select("i").distinct()
    js = spark.range(_RP_DIMS).select(F.col("id").alias("j"))
    signs = dims.crossJoin(js).select(
        "i",
        "j",
        F.when(
            md5_int("rp:", F.col("j"), ":", F.col("i"), digits=1) < 8,
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    return (
        pos.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("qx")).cast("long").alias("y"))
        .select("vec_id", F.col("j").cast("long").alias("proj_dim"), "y")
        .orderBy("vec_id", "proj_dim")
    )


embedding_random_projection.__doc__ = embedding_random_projection.__doc__.format(
    _RP_DIMS=_RP_DIMS
)
