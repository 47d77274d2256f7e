"""IVF-ANN quality gates: recall floor at the configured nprobe, and
the exhaustive-probe limit — probing every cell must recover the exact
brute-force top-k (the approximation lives ONLY in cell pruning)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window as W

from blockchain2graphdb_spark.catalog import table
from blockchain2graphdb_spark.functions.vectors import float_cosine
from blockchain2graphdb_spark.operators.ann_ivf import (
    _N_CENTROIDS,
    _N_PROBE,
    _assign,
    _centroids,
)

K = 10


def _brute_topk(spark, sf_dir, k=K):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cand = q.join(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))
    ).where(F.col("cand_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "cand_id", float_cosine(F.col("qe"), F.col("ce")).alias("c")
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "cand_id")
    )


def _ivf_topk(spark, sf_dir, nprobe, k=K):
    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    index = _assign(emb, cents, 1, "cell")
    queries = _assign(emb.where(F.col("vec_id") < 5), cents, nprobe, "probe_cell")
    cand = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("probe_cell").alias("cell"),
        )
        .join(
            index.select(
                F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), "cell"
            ),
            "cell",
        )
        .where(F.col("cand_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id", "cand_id", float_cosine(F.col("qe"), F.col("ce")).alias("c")
    ).dropDuplicates(["query_id", "cand_id"])
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "cand_id")
    )


@pytest.mark.slow  # >9s measured r13; full lane still runs it
def test_ivf_recall_floor(spark, sf_dir):
    bf = _brute_topk(spark, sf_dir)
    ivf = _ivf_topk(spark, sf_dir, _N_PROBE)
    total = bf.count()
    hit = bf.intersect(ivf).count()
    assert total == 50
    # measured 0.64 at sf0.001 with nprobe=4/16 on random gaussians (the
    # adversarial case for IVF); 0.4 is the regression floor
    assert hit / total >= 0.4, f"recall@{K} = {hit}/{total}"


@pytest.mark.slow  # >5.5s in the r14 fast-lane durations; full lane still runs it
def test_ivf_exhaustive_probe_equals_bruteforce(spark, sf_dir):
    """nprobe = n_centroids prunes nothing, so IVF must return exactly
    the brute-force top-k: the candidate generation loses vectors, the
    scoring kernel never does."""
    bf = _brute_topk(spark, sf_dir)
    ivf = _ivf_topk(spark, sf_dir, _N_CENTROIDS)
    assert bf.exceptAll(ivf).count() == 0
    assert ivf.exceptAll(bf).count() == 0


@pytest.mark.slow  # >5.5s in the r14 fast-lane durations; full lane still runs it
def test_lsh_recall_floor_and_table_scaling(spark, sf_dir):
    """Random-hyperplane LSH candidate generation must (a) clear a recall
    floor at the registered 4-table setting and (b) gain recall when the
    OR-construction widens — the property the round-1 fixed-bucket
    version lacked. Ground truth: exact brute-force top-10 pairs.
    Measured on the random-gaussian fixture (worst case for LSH):
    0.18 / 0.34 / 0.42 / 0.62 at 1/2/4/8 tables."""
    from blockchain2graphdb_spark.operators.similarity import lsh_topk

    bf = (
        _brute_topk(spark, sf_dir)
        .select(
            F.least("query_id", "cand_id").alias("a"),
            F.greatest("query_id", "cand_id").alias("b"),
        )
        .distinct()
    )
    total = bf.count()
    assert total == 50

    def pair_recall(n_tables):
        cands = lsh_topk(spark, sf_dir, n_tables=n_tables, k=10_000).select(
            F.col("query_id").alias("a"), F.col("cand_id").alias("b")
        )
        return bf.intersect(cands).count() / total

    r4 = pair_recall(4)
    assert r4 >= 0.25, f"LSH 4-table recall@10 = {r4:.2f}"
    r1 = pair_recall(1)
    assert r4 > r1, f"OR-construction gained nothing: {r1:.2f} -> {r4:.2f}"


@pytest.mark.slow  # >9s measured r13; full lane still runs it
def test_dedup_embedding_lsh_pair_recall(spark, sf_dir):
    """LSH-blocked near-dup pairs (no blocking column) must recover a
    floor fraction of the exact all-pairs cosine>0.3 ground truth.
    Measured 0.44 (406/920 pairs) at the registered 4-table setting on
    the random-gaussian fixture."""
    from blockchain2graphdb_spark import registry
    from blockchain2graphdb_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    truth = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", float_cosine(F.col("ea"), F.col("eb")).alias("c"))
        .where(F.col("c") > 0.3)
        .select("vec_a", "vec_b")
    )
    total = truth.count()
    assert total > 0
    got = (
        registry.load_all()["dedup_embedding_lsh"]
        .builder(spark, sf_dir)
        .select("vec_a", "vec_b")
    )
    hit = truth.intersect(got).count()
    assert hit / total >= 0.3, f"dedup LSH pair recall = {hit}/{total}"


@pytest.mark.slow  # >5.5s in the r14 fast-lane durations; full lane still runs it
def test_pq_recall_floor_and_determinism(spark, sf_dir):
    """PQ/ADC approximates exact L2 on the quantized vectors. With an
    untrained 16-code sample codebook on random gaussians (worst case)
    recall@10 measured 0.32; 0.15 is the regression floor. Encoding and
    ranking are fully deterministic."""
    from blockchain2graphdb_spark.catalog import table
    from blockchain2graphdb_spark.functions.vectors import quantize, sq_dist
    from blockchain2graphdb_spark.operators.ann_pq import (
        _subvectors,
        pq_codebooks,
        pq_encode,
    )
    from blockchain2graphdb_spark import registry

    spec = registry.load_all()["similarity_pq"]
    a = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
    b = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
    assert a == b and len(a) == 15  # deterministic, 5 queries × top-3

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", quantize("embedding").alias("q"))
    books = pq_codebooks(pts).localCheckpoint(eager=True)
    codes = pq_encode(pts, books)
    queries = pts.where(F.col("vec_id") < 5)
    dtab = (
        _subvectors(queries, "q")
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(books), "s")
        .select("query_id", "s", "code", sq_dist("sub", "center").alias("d"))
    )
    w10 = W.partitionBy("query_id").orderBy("adc", "cand_id")
    pq10 = (
        codes.withColumnRenamed("vec_id", "cand_id")
        .join(F.broadcast(dtab), ["s", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d").alias("adc"))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(w10))
        .where(F.col("rn") <= 10)
        .select("query_id", "cand_id")
    )
    q2 = queries.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    bf10 = (
        q2.join(
            pts.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
        )
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", sq_dist("qq", "cq").alias("adc"))
        .withColumn("rn", F.row_number().over(w10))
        .where(F.col("rn") <= 10)
        .select("query_id", "cand_id")
    )
    hit, tot = bf10.intersect(pq10).count(), bf10.count()
    assert tot == 50
    assert hit / tot >= 0.15, f"PQ recall@10 = {hit}/{tot}"


# ------------------------------------------------------ similarity_range


def test_range_search_consistent_with_topk(spark, sf_dir):
    """On the shared query set (vec_id < 5), range search at tau=0.2
    must return exactly the top-k hits scoring >= tau — plus whatever
    k cut off — and nothing below tau."""
    from blockchain2graphdb_spark import registry

    specs = registry.load_all()
    rng = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in specs["similarity_range"].builder(spark, sf_dir).collect()
        if r["query_id"] < 5
    }
    topk = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in specs["similarity_topk"].builder(spark, sf_dir).collect()
    }
    for pair, cos in rng.items():
        assert cos >= 0.2 - 1e-12, pair
    for pair, cos in topk.items():
        if cos >= 0.2:
            assert pair in rng, f"top-k hit {pair} ({cos}) missing from range result"
            assert abs(rng[pair] - cos) < 1e-12
