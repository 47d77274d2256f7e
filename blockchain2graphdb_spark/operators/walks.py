"""Deterministic random-walk sampling over the order–part bipartite
graph (SURVEY.md §2.13 X17): the DeepWalk/node2vec corpus generator —
fixed-length walks from a seed set, each step choosing a neighbor by a
HASH of (walk id, step) instead of an RNG, so the "random" walk is a
pure function of the data and replays identically on any engine,
any partitioning, any retry.

Reference parity: the reference's graph layer stops at stored
traversals (DimaYakov/blockchain2graphdb TraversalSource usage,
B:1100–1180); walk-corpus extraction is part of the training-data
surface this engine adds on top (SURVEY §2.13).

Scale notes (100 TB):
  * The adjacency (src, idx, dst) and degree tables are built once
    with one partitioned window / one aggregate over the DISTINCT edge
    list — never recomputed per step.
  * Each step is two keyed equi-joins (frontier→degree to compute the
    target index, then frontier→adjacency on (src, idx)) — no
    degree-sized fan-out: the adjacency join matches EXACTLY ONE row
    per walk because idx is a join key, so shuffle volume is O(#walks)
    per step regardless of hub degrees.
  * Walk length is a compile-time constant (3 hops), so the whole plan
    is one linear Catalyst DAG — no iterative driver loop, no
    checkpoint lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import md5_int
from ..registry import query

_SEED_MOD = 50  # every 50th order key seeds a walk
_STEPS = 3  # order -> part -> order -> part


def _oracle() -> str:
    def pick(step: int) -> str:
        return (
            f"('0x' || substr(md5(CAST(seed AS VARCHAR) || ':{step}'), 1, 8))"
            f"::BIGINT"
        )

    return f"""
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    adj_op AS (
      SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) - 1 AS idx
      FROM e
    ),
    deg_op AS (SELECT o, COUNT(*) AS deg FROM e GROUP BY o),
    adj_po AS (
      SELECT p, o, row_number() OVER (PARTITION BY p ORDER BY o) - 1 AS idx
      FROM e
    ),
    deg_po AS (SELECT p, COUNT(*) AS deg FROM e GROUP BY p),
    seeds AS (
      SELECT DISTINCT l_orderkey AS seed FROM lineitem
      WHERE l_orderkey % {_SEED_MOD} = 0
    ),
    s1 AS (
      SELECT s.seed, a.p AS node
      FROM seeds s
      JOIN deg_op d ON d.o = s.seed
      JOIN adj_op a ON a.o = s.seed AND a.idx = {pick(1)} % d.deg
    ),
    s2 AS (
      SELECT s.seed, a.o AS node
      FROM s1 s
      JOIN deg_po d ON d.p = s.node
      JOIN adj_po a ON a.p = s.node AND a.idx = {pick(2)} % d.deg
    ),
    s3 AS (
      SELECT s.seed, a.p AS node
      FROM s2 s
      JOIN deg_op d ON d.o = s.node
      JOIN adj_op a ON a.o = s.node AND a.idx = {pick(3)} % d.deg
    )
    SELECT seed, CAST(0 AS BIGINT) AS step, 'order' AS node_type,
           CAST(seed AS BIGINT) AS node
    FROM seeds
    UNION ALL SELECT seed, 1, 'part', CAST(node AS BIGINT) FROM s1
    UNION ALL SELECT seed, 2, 'order', CAST(node AS BIGINT) FROM s2
    UNION ALL SELECT seed, 3, 'part', CAST(node AS BIGINT) FROM s3
    """


@query("random_walk_sample", oracle=_oracle())
def random_walk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step deterministic walks over the order↔part bipartite graph
    from every {_SEED_MOD}th order: step t moves from the current node
    to its neighbor with index md5(seed, t) mod degree, neighbors
    ranked by id — the DeepWalk corpus generator with the RNG replaced
    by a content hash, so walks are reproducible across engines and
    retries (the md5-bucket split_assign philosophy applied to graph
    sampling). Output is the flattened (seed, step, node_type, node)
    trajectory table a skip-gram trainer consumes.

    Scale shape: adjacency + degree built once from the distinct edge
    list (one window, one aggregate); each step is two keyed
    equi-joins with exactly one adjacency match per walk (idx is a
    join key — no hub fan-out); the walk count is |seeds|, constant
    per step. Walk length is a literal, so the plan is linear —
    no driver iteration."""
    e = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj_op = e.select(
        "o", "p", (F.row_number().over(W.partitionBy("o").orderBy("p")) - 1).alias("idx")
    )
    deg_op = e.groupBy("o").agg(F.count(F.lit(1)).alias("deg"))
    adj_po = e.select(
        "p", "o", (F.row_number().over(W.partitionBy("p").orderBy("o")) - 1).alias("idx")
    )
    deg_po = e.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))

    seeds = (
        e.select(F.col("o").alias("seed"))
        .where(F.col("seed") % _SEED_MOD == 0)
        .distinct()
    )

    def step(cur: DataFrame, t: int) -> DataFrame:
        """cur: (seed, node). Odd t: order->part; even t: part->order."""
        deg, adj, src, dst = (
            (deg_op, adj_op, "o", "p") if t % 2 == 1 else (deg_po, adj_po, "p", "o")
        )
        tgt = cur.join(deg, cur["node"] == deg[src]).select(
            "seed", "node", (md5_int(F.col("seed"), f":{t}") % F.col("deg")).alias("idx")
        )
        return tgt.join(adj, (tgt["node"] == adj[src]) & (tgt["idx"] == adj["idx"])).select(
            "seed", F.col(dst).alias("node")
        )

    s1 = step(seeds.select("seed", F.col("seed").alias("node")), 1)
    s2 = step(s1, 2)
    s3 = step(s2, 3)

    def out(df: DataFrame, t: int, node_type: str) -> DataFrame:
        return df.select(
            "seed",
            F.lit(t).cast("long").alias("step"),
            F.lit(node_type).alias("node_type"),
            F.col("node").cast("long").alias("node"),
        )

    start = seeds.select("seed", F.col("seed").alias("node"))
    return (
        out(start, 0, "order")
        .unionAll(out(s1, 1, "part"))
        .unionAll(out(s2, 2, "order"))
        .unionAll(out(s3, 3, "part"))
    )


random_walk_sample.__doc__ = random_walk_sample.__doc__.format(_SEED_MOD=_SEED_MOD)


@query(
    "gnn_neighbor_sample",
    oracle="""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    nodes AS (SELECT DISTINCT src AS n FROM sym),
    seeds AS MATERIALIZED (
      SELECT n FROM nodes ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT 32
    ),
    l1 AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT e.src, e.dst,
               ROW_NUMBER() OVER (
                 PARTITION BY e.src
                 ORDER BY md5(CAST(e.src AS VARCHAR) || '-'
                              || CAST(e.dst AS VARCHAR)), e.dst) AS rn
        FROM sym e JOIN seeds s ON s.n = e.src
      ) WHERE rn <= 3
    ),
    f2 AS (SELECT DISTINCT dst AS n FROM l1),
    l2 AS (
      SELECT src, dst FROM (
        SELECT e.src, e.dst,
               ROW_NUMBER() OVER (
                 PARTITION BY e.src
                 ORDER BY md5(CAST(e.src AS VARCHAR) || '-'
                              || CAST(e.dst AS VARCHAR)), e.dst) AS rn
        FROM sym e JOIN f2 s ON s.n = e.src
      ) WHERE rn <= 3
    )
    SELECT CAST(1 AS BIGINT) AS layer, src, dst FROM l1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS layer, src, dst FROM l2
    """,
)
def gnn_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 GNN-training primitive: GraphSAGE-style 2-layer NEIGHBOR
    SAMPLING — for each of 32 content-hash seed nodes, at most 3
    neighbors per node per layer, neighbors chosen by md5(src-dst) rank
    (the deterministic stand-in for the sampler's RNG, same philosophy
    as `random_walk_sample`), layer 2 expanding the DEDUPED layer-1
    frontier. Output is the sampled computation graph (layer, src, dst)
    a GNN minibatch trainer consumes.

    Scale shape: the per-node cut is a rank window PARTITIONED BY src —
    WindowGroupLimit keeps it a map-side partial top-3 per partition, so
    hub nodes never materialize their full neighbor list; each layer is
    one semi-join (frontier) + one windowed scan of the adjacency; depth
    is a compile-time constant, one linear DAG, no driver loop."""
    from .graphops import _copurchase_pairs, _pair_nodes, _sym_edges

    pairs, _n = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs)
    nodes = _pair_nodes(pairs)
    seeds = nodes.orderBy(F.md5(F.col("n").cast("string")), "n").limit(32)

    def sample_layer(frontier: DataFrame) -> DataFrame:
        ekey = F.md5(
            F.concat_ws("-", F.col("src").cast("string"), F.col("dst").cast("string"))
        )
        w = W.partitionBy("src").orderBy(ekey, "dst")
        return (
            sym.join(F.broadcast(frontier), sym["src"] == frontier["n"], "left_semi")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("src", "dst")
        )

    l1 = sample_layer(seeds)
    f2 = l1.select(F.col("dst").alias("n")).distinct()
    l2 = sample_layer(f2)
    return l1.select(F.lit(1).cast("long").alias("layer"), "src", "dst").unionByName(
        l2.select(F.lit(2).cast("long").alias("layer"), "src", "dst")
    )


_N2V_SEEDS = 64


def _n2v_pick(step: int) -> str:
    return (
        f"('0x' || substr(md5('n2v' || CAST(seed AS VARCHAR) || ':{step}'), 1, 8))"
        f"::BIGINT"
    )


def _n2v_oracle() -> str:
    """Unrolled 3-step return-biased walk: step 1 uniform; steps 2-3
    weight the return edge 1 and every other neighbor 2 (node2vec
    p = 2, q = 1), chosen by integer slot arithmetic over
    T = 2*deg - 1 md5 slots."""
    biased = """
    s{h} AS MATERIALIZED (
      SELECT s.seed, a.dst AS node, s.node AS prev
      FROM s{g} s
      JOIN deg d ON d.src = s.node
      JOIN adj pa ON pa.src = s.node AND pa.dst = s.prev
      JOIN adj a ON a.src = s.node
       AND a.idx = CASE
         WHEN {r} % (2 * d.deg - 1) = 2 * d.deg - 2 THEN pa.idx
         ELSE CASE WHEN ({r} % (2 * d.deg - 1)) // 2 < pa.idx
                   THEN ({r} % (2 * d.deg - 1)) // 2
                   ELSE ({r} % (2 * d.deg - 1)) // 2 + 1 END
       END
    )"""
    return f"""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
      FROM sym
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    nodes AS (SELECT DISTINCT src FROM sym),
    seeds AS MATERIALIZED (
      SELECT src AS seed FROM nodes
      ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT {_N2V_SEEDS}
    ),
    s1 AS MATERIALIZED (
      SELECT s.seed, a.dst AS node, s.seed AS prev
      FROM seeds s
      JOIN deg d ON d.src = s.seed
      JOIN adj a ON a.src = s.seed AND a.idx = {_n2v_pick(1)} % d.deg
    ),
    {biased.format(h=2, g=1, r=_n2v_pick(2))},
    {biased.format(h=3, g=2, r=_n2v_pick(3))}
    SELECT seed, CAST(0 AS BIGINT) AS step, CAST(seed AS BIGINT) AS node
    FROM seeds
    UNION ALL SELECT seed, 1, CAST(node AS BIGINT) FROM s1
    UNION ALL SELECT seed, 2, CAST(node AS BIGINT) FROM s2
    UNION ALL SELECT seed, 3, CAST(node AS BIGINT) FROM s3
    """


def _n2v_walk(spark: SparkSession, sf_dir: str, tag: str, biased_step) -> DataFrame:
    """The walk body both node2vec keys share: the checkpointed
    adjacency (src, dst, idx) and degree table, the _N2V_SEEDS
    smallest-md5 seeds, the uniform first step and the step 0-3 union.
    `biased_step(cur, adj, deg, h)` takes the (seed, node, prev)
    frontier and the step's md5(tag, seed, step) pick `h` and returns
    the next frontier."""
    from .graphops import _copurchase_pairs, _sym_edges

    pairs, _n = _copurchase_pairs(spark, sf_dir)
    adj = _sym_edges(pairs).select(
        "src",
        "dst",
        (F.row_number().over(W.partitionBy("src").orderBy("dst")) - 1).alias("idx"),
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (
        adj.select(F.col("src").alias("seed"))
        .distinct()
        .orderBy(F.md5(F.col("seed").cast("string")), "seed")
        .limit(_N2V_SEEDS)
    )

    def pick(step: int) -> F.Column:
        return md5_int(tag, F.col("seed"), f":{step}")

    # step 1: uniform over deg(seed)
    s1 = (
        seeds.join(deg, seeds["seed"] == deg["src"])
        .select("seed", (pick(1) % F.col("deg")).alias("i"))
        .join(adj, (F.col("seed") == adj["src"]) & (F.col("i") == adj["idx"]))
        .select("seed", F.col("dst").alias("node"), F.col("seed").alias("prev"))
    )
    s2 = biased_step(s1, adj, deg, pick(2))
    s3 = biased_step(s2, adj, deg, pick(3))

    def out(df: DataFrame, t: int) -> DataFrame:
        return df.select(
            "seed",
            F.lit(t).cast("long").alias("step"),
            F.col("node").cast("long").alias("node"),
        )

    return (
        seeds.select(
            "seed",
            F.lit(0).cast("long").alias("step"),
            F.col("seed").cast("long").alias("node"),
        )
        .unionAll(out(s1, 1))
        .unionAll(out(s2, 2))
        .unionAll(out(s3, 3))
    )


def _n2v_return_step(
    cur: DataFrame, adj: DataFrame, deg: DataFrame, h: F.Column
) -> DataFrame:
    """p = 2, q = 1: the return edge gets 1 slot and every other
    neighbor 2 slots of a T = 2*deg - 1 wheel; h mod T picks the slot."""
    pa = adj.select(
        F.col("src").alias("c"), F.col("dst").alias("p"), F.col("idx").alias("pidx")
    )
    d = cur.join(deg, cur["node"] == deg["src"]).select(
        "seed", "node", "prev", "deg"
    )
    d = d.join(
        pa, (d["node"] == pa["c"]) & (d["prev"] == pa["p"])
    ).select("seed", "node", "deg", "pidx")
    r = h % (2 * F.col("deg") - 1)
    half = F.expr("r div 2")
    chosen = (
        F.when(F.col("r") == 2 * F.col("deg") - 2, F.col("pidx"))
        .otherwise(F.when(half < F.col("pidx"), half).otherwise(half + 1))
    )
    d = d.withColumn("r", r).withColumn("i", chosen)
    return d.join(adj, (d["node"] == adj["src"]) & (d["i"] == adj["idx"])).select(
        "seed", F.col("dst").alias("node"), d["node"].alias("prev")
    )


@query("node2vec_walk_sample", oracle=_n2v_oracle())
def node2vec_walk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-biased (node2vec p = 2, q = 1) deterministic walks over
    the co-purchase part graph from the 64 smallest-md5 seeds, 3 steps:
    step 1 is uniform; later steps give the BACKTRACK edge weight 1/p
    and every other neighbor weight 1 — realized exactly in integers by
    giving non-return neighbors 2 slots and the return edge 1 slot of a
    T = 2*deg - 1 slot wheel indexed by md5('n2v', seed, step) mod T.
    q = 1 is the deliberate restriction: a q != 1 bias needs
    "is-candidate-adjacent-to-prev" — a per-candidate triangle probe
    whose state is the edge-pair alias table node2vec precomputes
    (O(sum deg(u)*deg(v)) memory, the known node2vec scale wall);
    p-only keeps every step two O(#walks) equi-joins (degree, prev
    index, then (src, idx) pick), no hub fan-out, exactly the
    random_walk_sample shape.

    Scale shape (100 TB): adjacency/degree built once from the distinct
    symmetric edge list (one partitioned window + one aggregate); per
    step O(#walks) shuffle rows; walk length is a literal — one linear
    DAG, no driver loop."""
    return _n2v_walk(spark, sf_dir, "n2v", _n2v_return_step)


def _n2v_pq_pick(step: int) -> str:
    return (
        f"('0x' || substr(md5('n2vpq' || CAST(seed AS VARCHAR) || ':{step}'),"
        f" 1, 8))::BIGINT"
    )


def _n2v_pq_oracle() -> str:
    """Unrolled 3-step node2vec walk with BOTH biases (p = 2, q = 2):
    per candidate neighbor x of the current node (given previous node
    prev), slots(x) = 1 if x = prev (backtrack, weight 1/p), 2 if x is
    adjacent to prev (distance 1, weight 1), 1 otherwise (distance 2,
    weight 1/q) — the exact ×2-scaled integer weights. The candidate
    list is ordered by adjacency idx, prefix-summed into slot spans,
    and the md5 pick mod the span total selects the span it lands in.
    The triangle mark is ONE extra LEFT JOIN against the adjacency —
    no alias tables."""
    biased = """
    cand{h} AS MATERIALIZED (
      SELECT s.seed, s.node AS cu, s.prev, a.dst AS cand, a.idx,
             CASE WHEN a.dst = s.prev THEN 1
                  WHEN t.dst IS NOT NULL THEN 2
                  ELSE 1 END AS slots
      FROM s{g} s
      JOIN adj a ON a.src = s.node
      LEFT JOIN adj t ON t.src = s.prev AND t.dst = a.dst
    ),
    cum{h} AS MATERIALIZED (
      SELECT *,
             SUM(slots) OVER (PARTITION BY seed ORDER BY idx
                              ROWS UNBOUNDED PRECEDING) - slots AS st,
             SUM(slots) OVER (PARTITION BY seed) AS tot
      FROM cand{h}
    ),
    s{h} AS MATERIALIZED (
      SELECT seed, cand AS node, cu AS prev FROM cum{h}
      WHERE ({r} % tot) >= st AND ({r} % tot) < st + slots
    )"""
    return f"""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
      FROM sym
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    nodes AS (SELECT DISTINCT src FROM sym),
    seeds AS MATERIALIZED (
      SELECT src AS seed FROM nodes
      ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT {_N2V_SEEDS}
    ),
    s1 AS MATERIALIZED (
      SELECT s.seed, a.dst AS node, s.seed AS prev
      FROM seeds s
      JOIN deg d ON d.src = s.seed
      JOIN adj a ON a.src = s.seed AND a.idx = {_n2v_pq_pick(1)} % d.deg
    ),
    {biased.format(h=2, g=1, r=_n2v_pq_pick(2))},
    {biased.format(h=3, g=2, r=_n2v_pq_pick(3))}
    SELECT seed, CAST(0 AS BIGINT) AS step, CAST(seed AS BIGINT) AS node
    FROM seeds
    UNION ALL SELECT seed, 1, CAST(node AS BIGINT) FROM s1
    UNION ALL SELECT seed, 2, CAST(node AS BIGINT) FROM s2
    UNION ALL SELECT seed, 3, CAST(node AS BIGINT) FROM s3
    """


def _n2v_pq_step(
    cur: DataFrame, adj: DataFrame, deg: DataFrame, h: F.Column
) -> DataFrame:
    """p = 2, q = 2: per-walk prefix sums of the candidate slots (1 for
    prev, 2 for a neighbor of prev, 1 otherwise); h mod the total picks
    the span it lands in. `deg` is unused: the total is the slot sum."""
    cand = cur.join(adj, cur["node"] == adj["src"]).select(
        "seed",
        cur["node"].alias("cu"),
        "prev",
        F.col("dst").alias("cand"),
        "idx",
    )
    tri = adj.select(
        F.col("src").alias("tp"), F.col("dst").alias("tc")
    ).withColumn("is_tri", F.lit(1))
    cand = cand.join(
        tri, (cand["prev"] == tri["tp"]) & (cand["cand"] == tri["tc"]), "left"
    ).select(
        "seed",
        "cu",
        "prev",
        "cand",
        "idx",
        F.when(F.col("cand") == F.col("prev"), F.lit(1))
        .when(F.col("is_tri").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("slots"),
    )
    wseed = W.partitionBy("seed")
    cand = cand.withColumn(
        "st",
        F.sum("slots").over(
            wseed.orderBy("idx").rowsBetween(W.unboundedPreceding, 0)
        )
        - F.col("slots"),
    ).withColumn("tot", F.sum("slots").over(wseed))
    r = h % F.col("tot")
    return cand.where((r >= F.col("st")) & (r < F.col("st") + F.col("slots"))).select(
        "seed", F.col("cand").alias("node"), F.col("cu").alias("prev")
    )


@query("node2vec_walk_sample_pq", oracle=_n2v_pq_oracle())
def node2vec_walk_sample_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL node2vec biased walks (p = 2, q = 2) over the co-purchase
    part graph — the q != 1 distance-2 bias that `node2vec_walk_sample`
    deliberately restricts away (VERDICT r11 #5 closes that residual).
    Per step, each candidate neighbor x of the current node (previous
    node = prev) gets integer slots on a wheel: 1 slot if x = prev
    (backtrack, weight 1/p = 1/2), 2 slots if x is ADJACENT TO prev
    (distance 1, weight 1), 1 slot otherwise (distance 2, weight
    1/q = 1/2) — the ×2-scaled exact weights, no floating point. The
    md5('n2vpq', seed, step) pick mod the wheel total selects a span
    via per-walk prefix sums, so the walk stays a pure function of the
    data (replays identically on any engine / retry / partitioning —
    the `random_walk_sample` determinism contract; full-trajectory
    Python replay pinned in tests/test_round12_ops.py).

    Distance-2 bias needs "is candidate adjacent to prev" — here ONE
    extra equi-join of the candidate list against the adjacency (a
    left-join triangle probe), not node2vec's precomputed per-edge
    alias tables (O(sum_uv deg(u)·deg(v)) memory, the known scale
    wall). The honest cost shift vs the p-only walk: each step now
    materializes the candidate list, O(#walks × deg) rows instead of
    O(#walks) — the standard node2vec sampling cost, bounded by the
    co-purchase graph's bounded degree; the prefix-sum window is
    partitioned per walk (never global), and the adjacency/degree
    tables are still built once.

    Reference parity: the reference's graph layer stops at stored
    traversals (B:1100–1180); this extends the X17 training-data
    sampling surface."""
    return _n2v_walk(spark, sf_dir, "n2vpq", _n2v_pq_step)


_NEG_TRIALS = 3
_NEG_MOD = 20  # every 20th canonical edge seeds a training pair


def _neg_oracle() -> str:
    pick = (
        "('0x' || substr(md5('neg' || CAST(p.a AS VARCHAR) || ':'"
        " || CAST(p.b AS VARCHAR) || ':' || CAST(tr.t AS VARCHAR)), 1, 8))"
        "::BIGINT"
    )
    return f"""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS MATERIALIZED (
      SELECT n, row_number() OVER (ORDER BY n) AS pos
      FROM (SELECT a AS n FROM pr UNION SELECT b FROM pr)
    ),
    ntot AS (SELECT COUNT(*) AS nt FROM nodes),
    pos_edges AS (
      SELECT a, b FROM pr
      WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || '-'
                            || CAST(b AS VARCHAR)), 1, 8))::BIGINT
            % {_NEG_MOD} = 0
    ),
    cand AS (
      -- the pick expression must not reference nd, or the node join
      -- degrades to a nested loop evaluating md5 per (cand x node)
      SELECT p.a, p.b, tr.t, nd.n AS neg
      FROM pos_edges p
      CROSS JOIN (VALUES (1), (2), (3)) AS tr(t)
      CROSS JOIN ntot
      JOIN nodes nd ON nd.pos = {pick} % ntot.nt + 1
    ),
    ok AS (
      SELECT c.a, c.b, c.t, c.neg
      FROM cand c
      LEFT JOIN pr e ON e.a = LEAST(c.a, c.neg) AND e.b = GREATEST(c.a, c.neg)
      WHERE c.neg <> c.a AND c.neg <> c.b AND e.a IS NULL
    ),
    first_ok AS (
      SELECT a, b, t, neg,
             row_number() OVER (PARTITION BY a, b ORDER BY t) AS rn
      FROM ok
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(neg AS BIGINT) AS neg, CAST(t AS BIGINT) AS trial
    FROM first_ok WHERE rn = 1
    """


@query("negative_edge_sample", oracle=_neg_oracle())
def negative_edge_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for link-prediction training —
    the third leg of the X17 GNN-data surface next to
    `gnn_neighbor_sample` (positives' neighborhoods) and the walk
    corpora: every {_NEG_MOD}th canonical co-purchase edge (by content
    hash — growth-stable, no RNG) becomes a (a, b, neg) triplet where
    `neg` is a corruption of the pair verified to be a NON-edge. The
    corruption is drawn by md5('neg', a, b, trial) mod |nodes| against
    a 1-based global node index; up to {_NEG_TRIALS} trials per
    positive, keeping the FIRST trial that is neither an endpoint nor
    an edge (rejection sampling with a deterministic trial ladder —
    the standard corrupt-and-filter recipe, engine-replayable).
    Positives whose every trial collides are dropped rather than
    silently kept as false negatives.

    Scale shape (100 TB): the node index is `bucketed_global_rank`
    (per-bucket counts + broadcast offsets — never one WindowExec
    partition over the node set); candidates are O(#positives ×
    {_NEG_TRIALS}) rows joined by idx equi-join; the non-edge check is
    ONE left-anti join against the canonical edge list; the
    first-trial cut is a per-positive window over ≤{_NEG_TRIALS}
    rows. Nothing is pairwise, nothing is data-sized-windowed."""
    from ..functions.ranking import bucketed_global_rank
    from .graphops import _copurchase_pairs, _pair_nodes, _sym_edges

    pairs, _n = _copurchase_pairs(spark, sf_dir)
    nodes = _pair_nodes(pairs)
    idx = bucketed_global_rank(
        nodes, F.expr("n div 1000"), [F.col("n")]
    ).select("n", "pos", "n_total")
    ekey = md5_int(F.col("a"), "-", F.col("b"))
    pos_edges = pairs.where(ekey % _NEG_MOD == 0)
    trials = pos_edges.select(
        "a", "b", F.explode(F.array(*[F.lit(t) for t in range(1, _NEG_TRIALS + 1)])).alias("t")
    )
    pick = md5_int("neg", F.col("a"), ":", F.col("b"), ":", F.col("t"))
    cand = (
        trials.crossJoin(
            F.broadcast(idx.agg(F.max("n_total").cast("long").alias("nt")))
        )
        .withColumn("want", pick % F.col("nt") + 1)
        .join(idx.select(F.col("pos").alias("want"), F.col("n").alias("neg")), "want")
        .select("a", "b", "t", "neg")
    )
    canon = pairs.select(
        F.col("a").alias("ea"), F.col("b").alias("eb")
    )
    ok = (
        cand.where((F.col("neg") != F.col("a")) & (F.col("neg") != F.col("b")))
        .join(
            canon,
            (F.least("a", "neg") == F.col("ea"))
            & (F.greatest("a", "neg") == F.col("eb")),
            "left_anti",
        )
    )
    w = W.partitionBy("a", "b").orderBy("t")
    return (
        ok.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("neg").cast("long").alias("neg"),
            F.col("t").cast("long").alias("trial"),
        )
    )


negative_edge_sample.__doc__ = negative_edge_sample.__doc__.format(
    _NEG_MOD=_NEG_MOD, _NEG_TRIALS=_NEG_TRIALS
)
