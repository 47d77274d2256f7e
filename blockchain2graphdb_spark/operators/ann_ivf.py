"""IVF-style approximate nearest neighbor (SURVEY.md §2.13 X3 scale
path, complementing the LSH variant in similarity.py).

Coarse quantizer: a deterministic centroid table (every Nth vector by
id — at 100 TB this is the k-means output, refreshed offline). Index =
each vector assigned to its nearest centroid (one broadcast join).
Query = score only the vectors in the nprobe closest cells — the
N×M cross product becomes (queries × centroids) + (queries × their
cells), an equi-join on cell id.

Rows-only check (approximate recall by design); exactness of the kernel
itself is covered by similarity_topk's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.vectors import cosine, dot, float_cosine, float_sq_dist, sq_dist
from ..registry import query

_N_CENTROIDS = 16
_N_PROBE = 4


def _centroids(emb: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer: every k-th vector is a centroid
    (stand-in for offline k-means; the query plan is identical)."""
    return (
        emb.where(F.col("vec_id") % (500 // _N_CENTROIDS) == 0)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid"))
        .limit(_N_CENTROIDS)
    )


def _assign(emb: DataFrame, cents: DataFrame, n: int, out: str) -> DataFrame:
    """Top-n nearest centroids per vector via broadcast join + window."""
    scored = emb.join(F.broadcast(cents)).withColumn(
        "sim", float_cosine(F.col("embedding"), F.col("centroid"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select("vec_id", "embedding", F.col("cell").alias(out))
    )


@query("similarity_ivf")  # rows-only: approximate by design
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 IVF: inverted-file ANN — assign to cells, probe nprobe cells,
    exact rerank within probed cells, top-3 per query (vec_id < 5)."""
    emb = table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)

    index = _assign(emb, cents, 1, "cell")  # each vector in its 1 nearest cell
    queries = _assign(emb.where(F.col("vec_id") < 5), cents, _N_PROBE, "probe_cell")

    cand = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("probe_cell").alias("cell"),
    ).join(
        index.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("ce"),
            "cell",
        ),
        "cell",
    ).where(F.col("cand_id") != F.col("query_id"))

    scored = cand.select(
        "query_id",
        "cand_id",
        float_cosine(F.col("qe"), F.col("ce")).alias("cosine"),
    ).dropDuplicates(["query_id", "cand_id"])
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3).drop("rn")


def kmeans_fit(
    points: DataFrame, k: int = 8, n_iter: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over quantized vectors — the offline trainer for
    the IVF coarse quantizer (_centroids is its stand-in).

    points: (vec_id long, q array<long>). Deterministic by construction:
    init = the k lowest vec_ids, distances are exact integer→double
    sums (quantized coords < 2^53, so partial-sum order cannot change
    the result), argmin ties break to the lowest cell id, centroids are
    exact (Σq)/n rationals. Verified bit-for-bit against a NumPy
    reference in tests/test_kmeans.py.

    Each iteration: one broadcast of k centroids (no shuffle of points)
    + one (cell, dim)-keyed aggregation — the mergeable-state shape that
    scales to any point count; k and dims bound the shuffle, not rows.
    """
    pts = points.select("vec_id", "q").localCheckpoint(eager=True)
    cents = (
        pts.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cell"),
            F.transform("q", lambda x: x.cast("double")).alias("c"),
        )
    )
    w = W.partitionBy("vec_id").orderBy("dist", "cell")
    assign = None
    for _ in range(n_iter):
        scored = pts.join(F.broadcast(cents)).select(
            "vec_id",
            "q",
            "cell",
            float_sq_dist("q", "c").alias("dist"),
        )
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "q", "cell")
        )
        fresh = (
            assign.select("cell", F.posexplode("q").alias("dim", "qx"))
            .groupBy("cell", "dim")
            .agg((F.sum("qx").cast("double") / F.count(F.lit(1))).alias("cd"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "cd"))
                ).alias("pairs")
            )
            .select("cell", F.transform("pairs", lambda p: p["cd"]).alias("new_c"))
        )
        # a cell that lost every member keeps its previous centroid
        # (matches the standard Lloyd's convention and the NumPy
        # reference) instead of silently vanishing from the codebook
        cents = (
            cents.join(fresh, "cell", "left")
            .select("cell", F.coalesce(F.col("new_c"), F.col("c")).alias("c"))
        )
    return assign, cents


@query("kmeans_embeddings")  # rows-only: iterative float fixpoint, no SQL oracle
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 training step: 3 Lloyd iterations over the quantized embedding
    table; returns per-cell population and the exact centroid checksum.
    Deterministic (NumPy-parity tested), so the rows-only check is
    stable across runs."""
    from ..functions.vectors import quantize

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", quantize("embedding").alias("q"))
    assign, cents = kmeans_fit(pts, k=8, n_iter=3)
    pop = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_points"))
    csum = cents.select(
        "cell",
        F.round(
            F.aggregate("c", F.lit(0.0), lambda a, v: a + v), 6
        ).alias("centroid_sum"),
    )
    return pop.join(csum, "cell").orderBy("cell")


# Integer-Lloyd exact twin (same recipe as the other *_exact keys):
# quantized int64 vectors, squared-L2 in exact integer arithmetic,
# centroid update floor(Σ/​n) per dimension, ties broken by lowest
# centroid id — every engine computes identical assignments.
_KMX_K = 4
_KMX_DIM = 64
_KMX_ROUNDS = 2  # update rounds; output is the assignment against the final centroids


def _kmeans_exact_oracle() -> str:
    qv = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    d2 = (
        f"list_sum(list_transform(range({_KMX_DIM}),"
        " i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1])))"
    )
    sql = [
        f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, {qv} AS qv FROM embeddings
    ),
    c0 AS MATERIALIZED (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {_KMX_K})"""
    ]
    for r in range(_KMX_ROUNDS):
        sql.append(
            f""",
    a{r + 1} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM q CROSS JOIN c{r} c
      ) WHERE rn = 1
    ),
    u{r + 1} AS MATERIALIZED (
      SELECT a.cid, t.dim, CAST(SUM(q.qv[t.dim + 1]) AS BIGINT) // COUNT(*) AS v
      FROM a{r + 1} a
      JOIN q ON q.vec_id = a.vec_id
      CROSS JOIN UNNEST(range({_KMX_DIM})) AS t(dim)
      GROUP BY a.cid, t.dim
    ),
    n{r + 1} AS MATERIALIZED (
      SELECT cid, list(v ORDER BY dim) AS cv FROM u{r + 1} GROUP BY cid
    ),
    c{r + 1} AS MATERIALIZED (
      SELECT c.cid, COALESCE(n.cv, c.cv) AS cv
      FROM c{r} c LEFT JOIN n{r + 1} n ON n.cid = c.cid
    )"""
        )
    sql.append(
        f"""
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
      SELECT q.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {d2}, c.cid) AS rn
      FROM q CROSS JOIN c{_KMX_ROUNDS} c
    ) WHERE rn = 1"""
    )
    return "".join(sql)


@query("kmeans_exact", oracle=_kmeans_exact_oracle())
def kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 oracle-checked twin of kmeans_embeddings: Lloyd's algorithm
    entirely in integer arithmetic — quantized int64 vectors, exact
    squared-L2 distances, argmin ties broken by lowest centroid id,
    centroid update floor(Σ/n) per dimension, empty cells keep their
    previous centroid. Assignments are bit-identical on any engine;
    the float kmeans_fit stays the production trainer (no quantization
    drift in the codebook).

    Scale shape: the K-row centroid table broadcasts into the
    assignment join (K ~ thousands even at web scale); the per-dim
    update is one posexplode + keyed aggregate per round — the same
    partial/final combine as any groupBy.
    """
    from ..functions.vectors import quantize

    emb = table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize("embedding").alias("qv")).localCheckpoint(
        eager=True
    )
    cents = (
        q.where(F.col("vec_id") < _KMX_K)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )

    def assign(centroids: DataFrame) -> DataFrame:
        scored = q.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "cid", sq_dist("qv", "cv").alias("d2")
        )
        return (
            scored.groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).alias("best"))
            .select("vec_id", F.col("best.cid").alias("cid"))
        )

    for _ in range(_KMX_ROUNDS):
        a = assign(cents)
        upd = (
            a.join(q, "vec_id")
            .select("cid", F.posexplode("qv").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(F.expr("CAST(sum(v) AS BIGINT) div count(1)").alias("v"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "v"))).alias("dv"))
            .select("cid", F.expr("transform(dv, s -> s.v)").alias("new_cv"))
        )
        cents = (
            cents.join(upd, "cid", "left")
            .select("cid", F.coalesce("new_cv", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return assign(cents).select(
        "vec_id", F.col("cid").cast("long").alias("cluster")
    )


_IVF_INC_CENT_MOD = 31  # every 31st BASE vector seeds a centroid


@query(
    "ivf_index_incremental",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings WHERE len(embedding) > 0
    ),
    cents AS (
      SELECT vec_id AS cell, qv AS cvec FROM q
      WHERE vec_id % 10 <> 0 AND vec_id % {_IVF_INC_CENT_MOD} = 0
      ORDER BY vec_id LIMIT {_N_CENTROIDS}
    ),
    batch AS (SELECT vec_id, qv FROM q WHERE vec_id % 10 = 0),
    d AS (
      SELECT b.vec_id, c.cell,
             CAST(SUM((b.qv[CAST(t.i AS INT) + 1] - c.cvec[CAST(t.i AS INT) + 1])
                      * (b.qv[CAST(t.i AS INT) + 1] - c.cvec[CAST(t.i AS INT) + 1]))
                  AS BIGINT) AS d2
      FROM batch b
      CROSS JOIN cents c
      CROSS JOIN UNNEST(range(len(b.qv))) AS t(i)
      GROUP BY b.vec_id, c.cell
    ),
    best AS (
      SELECT vec_id, cell, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM d
    )
    SELECT vec_id, cell, d2 FROM best WHERE rn = 1 ORDER BY vec_id
    """,
)
def ivf_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF INDEX MAINTENANCE — the freshness path of the
    X3 scale story: the coarse quantizer is FROZEN (every
    {_IVF_INC_CENT_MOD}st base vector, the deterministic k-means
    stand-in `similarity_ivf` also uses) and only the NEW batch
    (vec_id % 10 == 0, the dedup_incremental corpus/batch convention)
    is assigned — the O(|batch| × k) cost that lets a 100 TB vector
    store absorb arrivals without re-clustering; centroid refresh is
    the separate offline job (`kmeans_embeddings`). Assignment is the
    argmin of EXACT integer squared L2 over the round(x·1000)
    quantization (ties to the smaller cell id), so unlike the
    float-cosine `similarity_ivf` this key is fully ORACLE-CHECKED —
    the assignment rows (vec_id, cell, d2) are what a versioned index
    table (SnapshotStore.append) would commit.

    Scale shape: centroids are a k-row broadcast; the distance kernel
    is `vectors.sq_dist`, a JVM zip_with/aggregate (one row per
    (vector, centroid), no explode); the argmin is a per-vector window
    over k rows. Nothing pairwise over the base."""
    from ..functions.vectors import quantize

    emb = table(spark, sf_dir, "embeddings").where(F.size("embedding") > 0)
    q = emb.select("vec_id", quantize("embedding").alias("qv"))
    cents = (
        q.where(
            (F.col("vec_id") % 10 != 0)
            & (F.col("vec_id") % _IVF_INC_CENT_MOD == 0)
        )
        .orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(F.col("vec_id").alias("cell"), F.col("qv").alias("cvec"))
    )
    batch = q.where(F.col("vec_id") % 10 == 0)
    d = batch.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        sq_dist("qv", "cvec").alias("d2"),
    )
    w = W.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell", "d2")
        .orderBy("vec_id")
    )


ivf_index_incremental.__doc__ = ivf_index_incremental.__doc__.format(
    _IVF_INC_CENT_MOD=_IVF_INC_CENT_MOD
)


_RC_QUERIES = 20
_RC_CENTS = 16
_RC_PROBE = 4


def _rc_oracle() -> str:
    from .similarity import _N_DIM

    dot = (
        "(SELECT SUM(a.qv[i.i] * b.qv[i.i]) FROM "
        f"(SELECT unnest(range(1, {_N_DIM + 1})) AS i) i)"
    )
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    norms AS MATERIALIZED (
      SELECT vec_id, (SELECT SUM(x * x) FROM unnest(qv) AS t(x)) AS norm2
      FROM q
    ),
    cents AS MATERIALIZED (
      SELECT vec_id AS cell, qv AS cv FROM q
      WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT {_RC_CENTS}
    ),
    cassign AS MATERIALIZED (
      SELECT a.vec_id, b.cell,
             CAST({dot.replace('b.qv', 'b.cv')} AS DOUBLE)
               / SQRT(CAST(na.norm2 *
                 (SELECT SUM(x * x) FROM unnest(b.cv) AS t(x)) AS DOUBLE))
               AS sim
      FROM q a
      JOIN norms na ON na.vec_id = a.vec_id
      CROSS JOIN cents b
    ),
    idx AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) AS rn
        FROM cassign
      ) WHERE rn = 1
    ),
    probes AS MATERIALIZED (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell) AS rn
        FROM cassign WHERE vec_id < {_RC_QUERIES}
      ) WHERE rn <= {_RC_PROBE}
    ),
    bf AS MATERIALIZED (
      SELECT query_id, cand_id, rn FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY CAST({dot} AS DOUBLE)
                          / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) DESC,
                          b.vec_id) AS rn
        FROM q a JOIN q b ON b.vec_id <> a.vec_id
        JOIN norms na ON na.vec_id = a.vec_id
        JOIN norms nb ON nb.vec_id = b.vec_id
        WHERE a.vec_id < {_RC_QUERIES}
      ) WHERE rn <= 10
    ),
    ivf AS MATERIALIZED (
      SELECT query_id, cand_id, rn FROM (
        SELECT p.query_id, i.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY CAST({dot} AS DOUBLE)
                          / SQRT(CAST(na.norm2 * nb.norm2 AS DOUBLE)) DESC,
                          i.vec_id) AS rn
        FROM probes p
        JOIN idx i ON i.cell = p.cell AND i.vec_id <> p.query_id
        JOIN q a ON a.vec_id = p.query_id
        JOIN q b ON b.vec_id = i.vec_id
        JOIN norms na ON na.vec_id = p.query_id
        JOIN norms nb ON nb.vec_id = i.vec_id
      ) WHERE rn <= 10
    ),
    ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (1), (5), (10)) t(k)),
    hits AS (
      SELECT ks.k,
             CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM ks, bf, ivf
      WHERE bf.rn <= ks.k AND ivf.rn <= ks.k
        AND ivf.query_id = bf.query_id AND ivf.cand_id = bf.cand_id
      GROUP BY ks.k
    )
    SELECT ks.k,
           CAST({_RC_QUERIES} AS BIGINT) AS n_queries,
           CAST((1000000 * COALESCE(h.n_hits, 0))
                // (ks.k * {_RC_QUERIES}) AS BIGINT) AS recall_micros
    FROM ks LEFT JOIN hits h ON h.k = ks.k
    ORDER BY ks.k
    """


@query("ann_recall_curve", oracle=_rc_oracle())
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY EVAL — recall@k (k = 1, 5, 10) of the IVF index
    against the exact brute-force ranking, the acceptance gate every
    vector-index deployment runs before switching search off the
    brute-force path. Unlike the rows-only similarity_ivf (float
    kernel), BOTH sides here run the integer-quantized kernel
    (round(x*1000) dots; cosine = one double ratio of identical exact
    integers — the X3 determinism discipline), all argmax/rank ties
    break on explicit ids, and the centroid stand-in is an ORDERED
    deterministic sample — so the entire eval value-hashes and the
    DuckDB oracle replays index build, probe, rerank, and the curve
    itself.

    recall@k = |IVF top-k  intersect  BF top-k| / (k * n_queries),
    floor-quantized to micros, 20 query vectors, 16 cells, nprobe 4.

    Scale shape (100 TB): index assignment is ONE broadcast join
    (vectors x 16 centroids) + a per-vector WindowGroupLimit argmax;
    the eval set is a bounded query sample, so BF scoring is
    (queries x corpus) with the small side broadcast — the acceptance
    eval is sampled by design; the production index swaps the centroid
    stand-in for kmeans_fit output, unchanged plan."""
    from .similarity import _quantized, brute_force_scores

    qdf = _quantized(spark, sf_dir).select("vec_id", "q", "norm2")
    cents = (
        qdf.where(F.col("vec_id") % 31 == 0)
        .orderBy("vec_id")
        .limit(_RC_CENTS)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("q").alias("cv"),
            F.col("norm2").alias("cnorm2"),
        )
    )
    cassign = qdf.join(F.broadcast(cents)).select(
        "vec_id",
        "q",
        "norm2",
        "cell",
        cosine(dot("q", "cv"), "norm2", "cnorm2").alias("sim"),
    )
    wa = W.partitionBy("vec_id").orderBy(F.desc("sim"), "cell")
    ranked = cassign.withColumn("rn", F.row_number().over(wa))
    idx = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cq"),
        F.col("norm2").alias("cnorm2x"),
        "cell",
    )
    probes = (
        ranked.where((F.col("vec_id") < _RC_QUERIES) & (F.col("rn") <= _RC_PROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm2").alias("qnorm2"),
            "cell",
        )
    )
    pcos = cosine(dot("qq", "cq"), "qnorm2", "cnorm2x")
    wq = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    queries = qdf.where(F.col("vec_id") < _RC_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qnorm2"),
    )
    cands = qdf.select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cq"),
        F.col("norm2").alias("cnorm2x"),
    )
    bf = (
        brute_force_scores(queries, cands, ["query_id", "cand_id"], pcos)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 10)
        .select("query_id", "cand_id", F.col("rn").alias("bf_rn"))
    )
    ivf = (
        probes.join(idx, "cell")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", pcos.alias("cosine"))
        # No dedup needed: idx assigns each candidate to exactly ONE
        # cell and a query's probe cells are distinct, so (query_id,
        # cand_id) pairs are unique by construction — and the oracle
        # relies on the same invariant (ADVICE r12).
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 10)
        .select(
            F.col("query_id").alias("iq"),
            F.col("cand_id").alias("ic"),
            F.col("rn").alias("ivf_rn"),
        )
    )
    ks = spark.range(1, 11).where(F.col("id").isin(1, 5, 10)).select(
        F.col("id").cast("long").alias("k")
    )
    hits = (
        F.broadcast(ks)
        .join(bf, bf["bf_rn"] <= F.col("k"))
        .join(
            ivf,
            (F.col("iq") == F.col("query_id"))
            & (F.col("ic") == F.col("cand_id"))
            & (F.col("ivf_rn") <= F.col("k")),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        ks.join(hits, "k", "left")
        .select(
            "k",
            F.lit(_RC_QUERIES).cast("long").alias("n_queries"),
            F.expr(
                f"CAST((1000000 * COALESCE(n_hits, 0))"
                f" div (k * {_RC_QUERIES}) AS BIGINT)"
            ).alias("recall_micros"),
        )
        .orderBy("k")
    )
