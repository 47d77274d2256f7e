"""Product-quantization ANN (SURVEY.md §2.13 X3, third scale path
besides LSH and IVF): vectors are compressed to m sub-space code ids
(here 4 codes ≙ 4 bytes per vector at any dimensionality), and query
scoring becomes asymmetric distance computation (ADC) — one small
distance table per query joined against the code table. At 100 TB the
code table is ~1/64th the size of the raw vectors, the codebooks
broadcast everywhere, and scoring never touches a raw candidate vector.

Codebooks here are a deterministic sample (every Nth vector's
subvectors — the same offline-k-means stand-in as ann_ivf._centroids;
kmeans_fit in ann_ivf.py is the real trainer, wired offline because
training cadence is a deployment concern, not a query concern).

Rows-only check (approximate by design); recall and determinism are
pinned in tests/test_ann_recall.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.vectors import quantize, sq_dist
from ..registry import query

_M_SUB = 4       # subspaces
_SUB_DIM = 16    # dims per subspace (64-dim fixture embeddings)
_N_CODES = 16


def _subvectors(df: DataFrame, vec_col: str) -> DataFrame:
    """(vec_id, s, sub: array<long>) — one row per subspace."""
    return df.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), s * _SUB_DIM + 1, _SUB_DIM)
                    for s in range(_M_SUB)
                ]
            )
        ).alias("s", "sub"),
    )


def pq_codebooks(pts: DataFrame) -> DataFrame:
    """(s, code, center: array<long>) from a deterministic sample."""
    sample = (
        pts.orderBy("vec_id").limit(_N_CODES)
        .select("vec_id", "q")
        .withColumn(
            "code",
            F.row_number().over(W.orderBy("vec_id")) - 1,
        )
    )
    return (
        _subvectors(sample, "q")
        .join(sample.select("vec_id", "code"), "vec_id")
        .select("s", "code", F.col("sub").alias("center"))
    )


def pq_encode(pts: DataFrame, books: DataFrame) -> DataFrame:
    """(vec_id, s, code): nearest codebook entry per subspace —
    broadcast join + per-(vec_id, s) argmin, ties to the lowest code."""
    sub = _subvectors(pts, "q")
    scored = sub.join(F.broadcast(books), "s").select(
        "vec_id", "s", "code", sq_dist("sub", "center").alias("d")
    )
    w = W.partitionBy("vec_id", "s").orderBy("d", "code")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )


@query("similarity_pq")  # rows-only: approximate by design
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 PQ/ADC: codes for the corpus, per-query distance tables over
    the codebooks, approximate distance = sum of m table lookups —
    an equi-join on (s, code) and a sum, with no raw candidate vectors
    in the scoring path. Top-3 per query (vec_id < 5)."""
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", quantize("embedding").alias("q"))
    books = pq_codebooks(pts).localCheckpoint(eager=True)
    codes = pq_encode(pts, books)

    queries = pts.where(F.col("vec_id") < 5)
    # per-query distance table: query subvector vs every codebook entry
    dtab = (
        _subvectors(queries, "q")
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(books), "s")
        .select(
            "query_id", "s", "code", sq_dist("sub", "center").alias("d")
        )
    )
    approx = (
        codes.withColumnRenamed("vec_id", "cand_id")
        .join(F.broadcast(dtab), ["s", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d").alias("adc_dist"))
        .where(F.col("cand_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        approx.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )
