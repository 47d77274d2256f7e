"""Approximate centrality (round 11, VERDICT r10 #8): sampled-seed
betweenness and harmonic closeness over the part co-purchase graph.

Exact betweenness/closeness are O(V·E) (Brandes) — the classic
"impossible at 100 TB" analytics. The standard production answer is
SEED SAMPLING (Brandes–Pich): run the single-source pass from a small
deterministic sample of sources and scale. Both operators here:

  * pick seeds by CONTENT HASH (the md5-determinism pattern of
    `random_walk_sample`, walks.py): the k smallest md5(node) values —
    growth-stable, engine-portable, no RNG state;
  * run ONE multi-source BFS with all seeds as a single frontier
    DataFrame keyed by (root, node) — never a per-seed driver loop, so
    adding seeds widens rows, not the plan (the plan-assert in
    tests/test_round11_ops.py pins this);
  * bounded horizon (depth 3 on this short-diameter graph) unrolled
    into a linear plan, the frontier BFS `graphops._bfs_levels` plus
    per-level shortest-path COUNTS (sigma) — level h's sigma is the sum
    of the parents' sigmas over the distinct edge set, the forward half
    of Brandes;
  * every score is exact integer arithmetic (int-nanos with
    floor-per-term), so the DuckDB oracle — the same BFS unrolled as
    MATERIALIZED CTEs — hashes bit-for-bit.

Betweenness uses the pair-sampling estimator: seeds 0..7 are sources,
seeds 8..15 their targets; a node v on some shortest s→t path earns
floor(1e9 · σ_s(v)·σ_t(v) / σ_s(t)) per pair (the exact per-pair
dependency, ≤ 1e9 since σ_s(v)·σ_t(v) ≤ σ_s(t)). The two-step
quotient+remainder form keeps every intermediate inside int64.

Reference parity: the reference has no centrality (its graph surface
stops at Gremlin traversals, T:31–171); this extends the G-family the
same way PageRank/k-core did — the analytics a graph DB user actually
runs on wallet/co-purchase graphs.

100 TB shape: the frontier is (k_seeds × nodes)-sized and broadcast
only while k·|nodes| fits the adaptive gate (plans/sizing.py);
past it the per-level joins degrade to keyed shuffles on (root, node).
The edge list is built once (`_copurchase_pairs`, checkpointed) and
re-read per level map-side. Nothing is ever per-seed or pairwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import parquet_num_rows, table
from ..plans.iterate import local_checkpoint
from ..plans.memo import SessionMemo, release_checkpoints
from ..plans.sizing import broadcast_hint
from ..registry import query
from .graphops import (
    _bfs_levels,
    _copurchase_pairs,
    _pair_nodes,
    _sym_edges,
    _with_dist,
)

_DEPTH = 3
_BTW_SEEDS = 16  # 8 source/target pairs
_CLO_SEEDS = 8


# Session-scoped BFS memo (VERDICT r11 #3, the _copurchase_pairs
# discipline): betweenness, closeness, and edge-betweenness all need
# the same sampled-seed BFS — build it ONCE per (session, fixture
# identity, depth) at the largest seed count and derive smaller seed
# sets by exact root filtering (the k smallest-md5 seeds are a prefix
# of the 2k smallest, and per-root BFS results are independent, so the
# filter is bit-exact). Evicted entries unpersist their checkpoint
# blocks so stale fixtures don't pin executor storage.
_SEED_BFS = SessionMemo(8, release=lambda v: release_checkpoints(v[2]))


def _seed_bfs(
    spark: SparkSession, sf_dir: str, n_seeds: int, depth: int = _DEPTH
) -> tuple[DataFrame, DataFrame]:
    """Memoized multi-source BFS (see `_seed_bfs_build` for the
    algorithm). Returns (bfs(root, node, dist, sigma), seeds(n, i))
    restricted to the n_seeds smallest-md5 seeds."""
    if n_seeds > _BTW_SEEDS:
        bfs, seeds, _cks = _seed_bfs_build(spark, sf_dir, n_seeds, depth)
        return bfs, seeds
    # the build reads lineitem (the pair list) and part (the gate)
    key = _SEED_BFS.key(spark, sf_dir, ("lineitem", "part"), depth)
    hit = _SEED_BFS.get(key)
    if hit is None:
        hit = _SEED_BFS.put(key, _seed_bfs_build(spark, sf_dir, _BTW_SEEDS, depth))
    bfs, seeds, _cks = hit
    if n_seeds == _BTW_SEEDS:
        return bfs, seeds
    sub_seeds = seeds.where(F.col("i") < n_seeds)
    roots = sub_seeds.select(F.col("n").alias("root"))
    return bfs.join(F.broadcast(roots), "root"), sub_seeds


def _seed_bfs_build(
    spark: SparkSession, sf_dir: str, n_seeds: int, depth: int = _DEPTH
) -> tuple[DataFrame, DataFrame, list]:
    """Multi-source BFS with shortest-path counts from the n_seeds
    smallest-md5 nodes of the co-purchase graph. Returns
    (bfs(root, node, dist, sigma), seeds(n, i), checkpoint_handles) —
    one frontier DataFrame for ALL seeds, `depth` unrolled join
    rounds; the handles let the memo release blocks on eviction."""
    pairs, _n_edges = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs)
    nodes = _pair_nodes(pairs)
    hkey = F.md5(F.col("n").cast("string"))
    # TakeOrdered top-k by content hash, then indices 0..k-1 via a
    # window over the k-row result (bounded by the Limit — the declared
    # sweep-exempt shape)
    seeds = local_checkpoint(
        nodes.orderBy(hkey, "n")
        .limit(n_seeds)
        .withColumn(
            "i",
            (F.row_number().over(W.orderBy(F.md5(F.col("n").cast("string")), "n")) - 1).cast(
                "long"
            ),
        )
    )
    frontier = seeds.select(
        F.col("n").alias("root"),
        F.col("n").alias("node"),
        F.lit(1).cast("long").alias("sigma"),
    )
    # frontier rows ≤ n_seeds · |parts| (nodes are part keys); broadcast
    # under the memory-adaptive gate (sized from the actual frontier
    # schema), keyed shuffles above it
    hint = broadcast_hint(spark, n_seeds * parquet_num_rows(sf_dir, "part"), frontier.schema)

    def expand(level: DataFrame) -> DataFrame:
        return (
            sym.join(hint(level), sym["src"] == level["node"])
            .select("root", F.col("dst").alias("node"), "sigma")
            .groupBy("root", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )

    levels = _bfs_levels(frontier, expand, ["root", "node"], depth, hint)
    bfs = _with_dist(levels)
    return (
        bfs.select("root", "node", F.col("dist").cast("int").alias("dist"), "sigma"),
        seeds,
        [seeds, *levels[1:]],
    )


def _oracle_bfs_cte(n_seeds: int, depth: int = _DEPTH) -> str:
    """The same sampled multi-source BFS as unrolled MATERIALIZED CTEs
    (the linear-oracle pattern of the r10 wallet-CC rewrite: one pass
    per level, never a recursive closure)."""
    parts = [
        f"""
    pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    nodes AS (SELECT DISTINCT src AS n FROM sym),
    seeds AS MATERIALIZED (
      SELECT n,
             CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(n AS VARCHAR)), n) - 1
                  AS BIGINT) AS i
      FROM nodes ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT {n_seeds}
    ),
    l0 AS MATERIALIZED (
      SELECT n AS root, n AS node, CAST(1 AS BIGINT) AS sigma, 0 AS dist
      FROM seeds
    )"""
    ]
    for h in range(1, depth + 1):
        anti = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM l{j} WHERE l{j}.root = c.root"
            f" AND l{j}.node = c.node)"
            for j in range(h)
        )
        parts.append(
            f"""
    c{h} AS (
      SELECT l.root, s.dst AS node, CAST(SUM(l.sigma) AS BIGINT) AS sigma
      FROM l{h - 1} l JOIN sym s ON s.src = l.node GROUP BY 1, 2
    ),
    l{h} AS MATERIALIZED (
      SELECT c.root, c.node, c.sigma, {h} AS dist FROM c{h} c WHERE {anti}
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT root, node, sigma, dist FROM l{h}" for h in range(depth + 1)
    )
    parts.append(f"\n    bfs AS ({union})")
    return ",".join(parts)


@query(
    "betweenness_approx",
    oracle=f"""
    WITH {_oracle_bfs_cte(_BTW_SEEDS)},
    p AS (
      SELECT a.i AS pid, a.n AS s, b.n AS t
      FROM seeds a JOIN seeds b ON b.i = a.i + {_BTW_SEEDS // 2}
      WHERE a.i < {_BTW_SEEDS // 2}
    ),
    sd AS (SELECT p.pid, p.s, p.t, b.node, b.dist AS ds, b.sigma AS ss
           FROM p JOIN bfs b ON b.root = p.s),
    td AS (SELECT p.pid, b.node, b.dist AS dt, b.sigma AS ts
           FROM p JOIN bfs b ON b.root = p.t),
    stt AS (SELECT p.pid, b.dist AS dst_d, b.sigma AS sst
            FROM p JOIN bfs b ON b.root = p.s AND b.node = p.t),
    contrib AS (
      SELECT sd.node,
             (((sd.ss * td.ts) // stt.sst) * 1000000000)
             + (((sd.ss * td.ts) % stt.sst) * 1000000000) // stt.sst AS term
      FROM sd
      JOIN td ON td.pid = sd.pid AND td.node = sd.node
      JOIN stt ON stt.pid = sd.pid
      WHERE sd.ds + td.dt = stt.dst_d AND sd.node <> sd.s AND sd.node <> sd.t
    )
    SELECT node, CAST(SUM(term) AS BIGINT) AS btw_nanos
    FROM contrib GROUP BY node
    ORDER BY btw_nanos DESC, node LIMIT 50
    """,
)
def betweenness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-pair betweenness (Brandes–Pich estimator) on the
    co-purchase graph: 8 deterministic (source, target) pairs, exact
    per-pair dependency floor(1e9·σ_s(v)·σ_t(v)/σ_s(t)) summed per
    node, top-50. See module docstring for the scale shape; the whole
    computation is ONE multi-source BFS plus three broadcast-sized
    joins — no per-seed loop, nothing pairwise over the graph."""
    bfs, seeds = _seed_bfs(spark, sf_dir, _BTW_SEEDS)
    half = _BTW_SEEDS // 2
    a, b = seeds.alias("a"), seeds.alias("b")
    p = (
        a.join(b, F.col("b.i") == F.col("a.i") + half)
        .where(F.col("a.i") < half)
        .select(
            F.col("a.i").alias("pid"),
            F.col("a.n").alias("s"),
            F.col("b.n").alias("t"),
        )
    )
    sd = F.broadcast(p).join(bfs, bfs["root"] == F.col("s")).select(
        "pid", "s", "t", "node", F.col("dist").alias("ds"), F.col("sigma").alias("ss")
    )
    td = F.broadcast(p).join(bfs, bfs["root"] == F.col("t")).select(
        "pid", "node", F.col("dist").alias("dt"), F.col("sigma").alias("ts")
    )
    stt = (
        F.broadcast(p)
        .join(bfs, (bfs["root"] == F.col("s")) & (bfs["node"] == F.col("t")))
        .select("pid", F.col("dist").alias("dst_d"), F.col("sigma").alias("sst"))
    )
    term = F.expr(
        "(((ss * ts) div sst) * 1000000000)"
        " + (((ss * ts) % sst) * 1000000000) div sst"
    )
    contrib = (
        sd.join(td, ["pid", "node"])
        .join(F.broadcast(stt), "pid")
        .where(
            (F.col("ds") + F.col("dt") == F.col("dst_d"))
            & (F.col("node") != F.col("s"))
            & (F.col("node") != F.col("t"))
        )
        .select("node", term.alias("term"))
    )
    return (
        contrib.groupBy("node")
        .agg(F.sum("term").cast("long").alias("btw_nanos"))
        .orderBy(F.desc("btw_nanos"), "node")
        .limit(50)
    )


@query(
    "closeness_approx",
    oracle=f"""
    WITH {_oracle_bfs_cte(_CLO_SEEDS)}
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(1000000000 // dist) AS BIGINT) AS harm_nanos
    FROM bfs WHERE dist > 0
    GROUP BY node
    ORDER BY harm_nanos DESC, node LIMIT 100
    """,
)
def closeness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic closeness: h(v) = Σ_seeds floor(1e9 / d(s, v))
    over the 8 content-hash seeds within the depth-3 horizon, top-100.
    Harmonic (not classic) closeness so unreachable seeds simply
    contribute 0 — no connectivity assumption, the estimator of choice
    on disconnected graphs."""
    bfs, _seeds = _seed_bfs(spark, sf_dir, _CLO_SEEDS)
    return (
        bfs.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(F.expr("1000000000 div dist")).cast("long").alias("harm_nanos"),
        )
        .orderBy(F.desc("harm_nanos"), "node")
        .limit(100)
    )


@query(
    "edge_betweenness_approx",
    oracle=f"""
    WITH {_oracle_bfs_cte(_BTW_SEEDS)},
    p AS (
      SELECT a.i AS pid, a.n AS s, b.n AS t
      FROM seeds a JOIN seeds b ON b.i = a.i + {_BTW_SEEDS // 2}
      WHERE a.i < {_BTW_SEEDS // 2}
    ),
    sd AS (SELECT p.pid, b.node AS u, b.dist AS dsu, b.sigma AS ssu
           FROM p JOIN bfs b ON b.root = p.s),
    td AS (SELECT p.pid, b.node AS v, b.dist AS dtv, b.sigma AS tsv
           FROM p JOIN bfs b ON b.root = p.t),
    stt AS (SELECT p.pid, b.dist AS dst_d, b.sigma AS sst
            FROM p JOIN bfs b ON b.root = p.s AND b.node = p.t),
    contrib AS (
      SELECT LEAST(e.src, e.dst) AS a, GREATEST(e.src, e.dst) AS b,
             (((sd.ssu * td.tsv) // stt.sst) * 1000000000)
             + (((sd.ssu * td.tsv) % stt.sst) * 1000000000) // stt.sst AS term
      FROM sym e
      JOIN sd ON sd.u = e.src
      JOIN td ON td.pid = sd.pid AND td.v = e.dst
      JOIN stt ON stt.pid = sd.pid
      WHERE sd.dsu + 1 + td.dtv = stt.dst_d
    )
    SELECT a, b, CAST(SUM(term) AS BIGINT) AS ebtw_nanos
    FROM contrib GROUP BY a, b
    ORDER BY ebtw_nanos DESC, a, b LIMIT 50
    """,
)
def edge_betweenness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-pair EDGE betweenness — the Girvan–Newman community-
    detection primitive (edges with the highest shortest-path load are
    the inter-community bridges you cut). Same seeds/BFS as
    `betweenness_approx`; an edge (u, v) lies on a shortest s→t path iff
    d_s(u) + 1 + d_t(v) = d_s(t), and carries σ_s(u)·σ_t(v)/σ_s(t) of
    the pair's paths (the node formula shifted onto the edge — ds(v) =
    ds(u)+1 is implied by the distance identity, so the edge join needs
    no second distance probe). Per-pair dependency floored to int-nanos
    in the same quotient+remainder form; undirected edges canonicalized
    (a < b) at aggregation. Scale shape: the symmetric edge list joins
    the broadcast-sized per-pair BFS tables once — one keyed shuffle to
    the (pid, v) join, one hash aggregate; comparable to one extra BFS
    level, never pairwise."""
    bfs, seeds = _seed_bfs(spark, sf_dir, _BTW_SEEDS)
    pairs, _n = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs)
    half = _BTW_SEEDS // 2
    a, b = seeds.alias("sa"), seeds.alias("sb")
    p = (
        a.join(b, F.col("sb.i") == F.col("sa.i") + half)
        .where(F.col("sa.i") < half)
        .select(
            F.col("sa.i").alias("pid"),
            F.col("sa.n").alias("s"),
            F.col("sb.n").alias("t"),
        )
    )
    # sd/td are node-sized x #pids tables; broadcast only under the
    # adaptive row gate (ADVICE r16 — the r16 form hinted both
    # unconditionally, which on a huge graph could blow the broadcast
    # ceiling; above the gate the joins degrade to keyed shuffles, the
    # same fallback every frontier operator takes)
    sd = F.broadcast(p).join(bfs, bfs["root"] == F.col("s")).select(
        "pid",
        F.col("node").alias("u"),
        F.col("dist").alias("dsu"),
        F.col("sigma").alias("ssu"),
    )
    side = broadcast_hint(spark, half * parquet_num_rows(sf_dir, "part"), sd.schema)
    sd = side(sd)
    # r16: td is node-sized x #pids — the SAME size class as sd, which
    # was already broadcast; leaving it unhinted made the second join a
    # sort-merge that shuffled the sd-expanded edge stream (profiled:
    # 338 MB written + a 41s read stage at sf0.1, the engine's largest
    # single exchange). Broadcasting it makes the whole contrib chain
    # stream the edges map-side: that shuffle disappears outright
    # (guide §2.4; measured 3.37 -> 2.73s, results identical).
    td = side(
        F.broadcast(p).join(bfs, bfs["root"] == F.col("t")).select(
            F.col("pid").alias("pid_t"),
            F.col("node").alias("v"),
            F.col("dist").alias("dtv"),
            F.col("sigma").alias("tsv"),
        )
    )
    stt = (
        F.broadcast(p)
        .join(bfs, (bfs["root"] == F.col("s")) & (bfs["node"] == F.col("t")))
        .select(
            F.col("pid").alias("pid_s"),
            F.col("dist").alias("dst_d"),
            F.col("sigma").alias("sst"),
        )
    )
    term = F.expr(
        "(((ssu * tsv) div sst) * 1000000000)"
        " + (((ssu * tsv) % sst) * 1000000000) div sst"
    )
    contrib = (
        sym.join(sd, sym["src"] == sd["u"])
        .join(td, (F.col("pid_t") == F.col("pid")) & (td["v"] == sym["dst"]))
        .join(F.broadcast(stt), F.col("pid_s") == F.col("pid"))
        .where(F.col("dsu") + 1 + F.col("dtv") == F.col("dst_d"))
        .select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
            term.alias("term"),
        )
    )
    return (
        contrib.groupBy("a", "b")
        .agg(F.sum("term").cast("long").alias("ebtw_nanos"))
        .orderBy(F.desc("ebtw_nanos"), "a", "b")
        .limit(50)
    )


_DIAM_DEPTH = 4


def _diameter_oracle(depth: int = _DIAM_DEPTH) -> str:
    """Two unrolled plain-BFS sweeps (no sigma), the second seeded by
    the first sweep's argmax — per-level MATERIALIZED CTEs."""

    def sweep(tag: str, seed_cte: str) -> str:
        parts = [
            f"""    {tag}0 AS MATERIALIZED (
      SELECT (SELECT n FROM {seed_cte}) AS node, 0 AS dist
    )"""
        ]
        for h in range(1, depth + 1):
            anti = " AND ".join(
                f"NOT EXISTS (SELECT 1 FROM {tag}{j} WHERE {tag}{j}.node = c.node)"
                for j in range(h)
            )
            parts.append(
                f"""    {tag}{h} AS MATERIALIZED (
      SELECT c.node, {h} AS dist FROM (
        SELECT DISTINCT s.dst AS node
        FROM {tag}{h - 1} l JOIN sym s ON s.src = l.node
      ) c WHERE {anti}
    )"""
            )
        union = " UNION ALL ".join(
            f"SELECT node, dist FROM {tag}{h}" for h in range(depth + 1)
        )
        parts.append(f"    {tag}d AS MATERIALIZED ({union})")
        return ",\n".join(parts)

    return f"""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS n FROM sym),
    seed1 AS MATERIALIZED (
      SELECT n FROM nodes ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT 1
    ),
{sweep("x", "seed1")},
    seed2 AS MATERIALIZED (
      SELECT node AS n FROM xd ORDER BY dist DESC, node LIMIT 1
    ),
{sweep("y", "seed2")}
    SELECT (SELECT n FROM seed1) AS seed_node,
           (SELECT n FROM seed2) AS far_node,
           (SELECT MAX(dist) FROM xd) AS ecc_seed,
           (SELECT MAX(dist) FROM yd) AS diameter_lb,
           (SELECT COUNT(*) FROM nodes) AS n_nodes,
           (SELECT COUNT(*) FROM yd) AS n_reached
    """


@query("graph_diameter_lb", oracle=_diameter_oracle())
def graph_diameter_lb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph DIAMETER lower bound by the DOUBLE-SWEEP heuristic
    (Magnien–Latapy–Habib): BFS from a content-hash seed, re-BFS from
    the farthest node found, and report that node's eccentricity —
    empirically tight (often exact) at a cost of two BFS passes where
    the exact diameter needs all-pairs. The G-family's "how wide is
    this graph" diagnostic next to the sampled centralities (same
    co-purchase graph, same md5 seed discipline).

    Both sweeps unroll 4 levels with the frontier anti-joined
    against the seen set (`graphops._bfs_levels`) — depth covers
    the fixture graph's true eccentricities (probed 2–3 at
    sf0.001–0.01), and `n_reached` vs `n_nodes` makes any truncation
    or disconnection visible in the result itself rather than
    silently capping. Every value is an exact integer; the oracle
    runs the identical two sweeps as unrolled MATERIALIZED CTEs, so
    the row value-hashes bit-for-bit.

    Scale shape (100 TB): each level is one keyed join frontier->sym
    plus an anti-join (frontier broadcast under the adaptive gate,
    keyed shuffles past it); the second sweep's seed is a 1-row
    TakeOrdered result — no driver-side argmax, no per-node loop. The
    edge list is built once and checkpointed (`_copurchase_pairs`).
    """
    pairs, _ = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs)
    nodes = _pair_nodes(pairs)
    hint = broadcast_hint(spark, parquet_num_rows(sf_dir, "part"), nodes.schema)

    def expand(level: DataFrame) -> DataFrame:
        return (
            sym.join(hint(level), sym["src"] == level["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )

    def sweep(seed_df: DataFrame) -> DataFrame:
        seed = local_checkpoint(seed_df.select(F.col("n").alias("node")))
        return _with_dist(_bfs_levels(seed, expand, ["node"], _DIAM_DEPTH, hint))

    hkey = F.md5(F.col("n").cast("string"))
    seed1 = nodes.orderBy(hkey, "n").limit(1)
    d1 = sweep(seed1)
    seed2 = d1.orderBy(F.desc("dist"), "node").limit(1).select(
        F.col("node").alias("n")
    )
    d2 = sweep(seed2)
    s1 = seed1.select(F.col("n").cast("long").alias("seed_node"))
    s2 = seed2.select(F.col("n").cast("long").alias("far_node"))
    e1 = d1.agg(F.max("dist").cast("long").alias("ecc_seed"))
    e2 = d2.agg(
        F.max("dist").cast("long").alias("diameter_lb"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        s1.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(e1))
        .crossJoin(F.broadcast(e2))
        .crossJoin(F.broadcast(nn))
        .select(
            "seed_node", "far_node", "ecc_seed", "diameter_lb", "n_nodes", "n_reached"
        )
    )


_EIG_ROUNDS = 8


def _eigcent_oracle(rounds: int = _EIG_ROUNDS) -> str:
    blocks = []
    prev = "e0"
    for r in range(1, rounds + 1):
        # rescale every FOURTH round (and the last): the intermediate
        # magnitude stays inside HUGEINT/DECIMAL(38,0) for four hops
        # (<= 1e6 * d_max^4 ~ 1e22 at d_max 1e4), and quartering the
        # rescale points quarters the checkpoint + max jobs on the
        # Spark side — 8 rounds become TWO 4-round fused plans (r13
        # structural pass; r12 ran cadence 2)
        if r % 4 == 0 or r == rounds:
            rescale = "(w * 1000000) // (MAX(w) OVER ())"
        else:
            rescale = "w"
        blocks.append(
            f"""    ew{r} AS MATERIALIZED (
      SELECT s.src AS node, SUM(p.v) AS w
      FROM sym s JOIN {prev} p ON p.node = s.dst GROUP BY s.src
    ),
    e{r} AS MATERIALIZED (
      SELECT node, {rescale} AS v FROM ew{r}
    )"""
        )
        prev = f"e{r}"
    body = ",\n".join(blocks)
    return f"""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    e0 AS (
      SELECT DISTINCT src AS node, CAST(1000000 AS HUGEINT) AS v FROM sym
    ),
{body}
    SELECT CAST(node AS BIGINT) AS node, CAST(v AS BIGINT) AS v_micros
    FROM e{rounds}
    ORDER BY v DESC, node LIMIT 50
    """


@query("eigenvector_centrality", oracle=_eigcent_oracle())
def eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGENVECTOR CENTRALITY (the prestige measure PageRank
    approximates with teleportation) by integer power iteration on the
    co-purchase adjacency — `embedding_pca_power`'s technique applied
    to the graph: v is renormalized each round to max-component 1e6 by
    non-negative floor division (adjacency and v0 are non-negative, so
    no sign handling is ever needed), 8 fixed rounds (the adjacency's
    eigengap is ~5-6x on this graph — simulated convergence to 13
    nines by round 8, which the numpy-eigh parity test pins at 1e-3;
    r11 ran 10 rounds, r12 trims the two converged-past-useful rounds
    for ~20% of this key's wall time; contrast the near-isotropic
    embedding covariance that needed squaring), top-50 by (score,
    node). Both engines run
    identical integer arithmetic; numpy eigh parity pinned in tests.

    Scale shape: each round is ONE co-partitioned shuffle-hash join
    edges->v (sym hash-partitioned once on dst, v arriving already
    hash-partitioned on node from the previous round's aggregate — no
    per-round exchange on either join side) plus a hash aggregate
    onto nodes, the distributed-SpMV minimum of one shuffle per
    superstep; rescale-round w tables locally checkpointed so the
    max's second reference cannot double lineage (the pca_power
    2^rounds trap); the max itself is a 1-row aggregate
    crossJoin-broadcast, NOT an unpartitioned window over the
    node-sized table. Partition count and AQE are scoped-and-restored
    confs (see inline rationale). Edge list memoized per session
    (`_copurchase_pairs`)."""
    pairs, n_edges = _copurchase_pairs(spark, sf_dir)
    # r13 structural pass (VERDICT r12 #2): the 8 supersteps are a
    # CO-PARTITIONED shuffle-hash pipeline under two SCOPED confs
    # (join_bloom_runtime_filter discipline — set, eagerly
    # materialize, restore):
    #   * shuffle partitions sized to the edge list (~75k edges per
    #     partition, floor 4, ceiling the session default) — at sf0.1
    #     the graph is 1.2M edges / ~30 MB, and 32-partition stages
    #     were pure task-scheduling overhead. On a 4-core session the
    #     default is 4, so this resolves to max(4, min(4, ...)) = 4: a
    #     no-op there;
    #   * AQE off — the chain's sizes are static and known, and AQE's
    #     per-stage re-planning latency dominates tiny iterative
    #     stages. Re-measured with a warm codegen cache (sf0.01, 1g
    #     driver, 4 cores, warm median of 5 calls, 4 alternating
    #     rounds): dropping both scoped confs takes this key from 7 to
    #     22 Spark jobs and 2.55 s to 3.23 s (slower in 3 of 4 rounds).
    # sym is hash-partitioned ONCE on dst; each round's v arrives
    # already hash-partitioned on node by the previous round's
    # aggregate (same key space, same partition count), so the
    # per-round join needs NO exchange at all — the only shuffle per
    # round is the groupBy(src) aggregate, the distributed-SpMV
    # minimum. This also replaces the old broadcast-v form: at 100 TB
    # v is node-sized and cannot broadcast, so co-partitioning is the
    # shape that survives scale-up, not just the faster one here.
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nparts = max(4, min(default_parts, (n_edges or 0) // 75_000 or 4))
    from ..plans.confs import scoped_confs

    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": str(nparts),
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        sym = local_checkpoint(_sym_edges(pairs).repartition(nparts, "dst"))
        v = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.lit(1000000).cast("decimal(38,0)").alias("v"))
        )
        for r in range(1, _EIG_ROUNDS + 1):
            w = (
                sym.join(
                    v.select(F.col("node").alias("vn"), "v").hint(
                        "shuffle_hash"
                    ),
                    F.col("dst") == F.col("vn"),
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("v").alias("w"))
            )
            if r % 4 == 0 or r == _EIG_ROUNDS:
                # rescale rounds: the max is w's SECOND reference, so w
                # must materialize here or plan and runtime double (the
                # pca_power trap). Cadence history: every round (r11)
                # -> every second (r12) -> every FOURTH (r13): 8 rounds
                # execute as TWO fused 4-round plans. The un-rescaled
                # intermediate stays <= 1e6·d_max^4, far inside
                # DECIMAL(38,0)/HUGEINT, and the floor points move to
                # LARGER magnitudes, so quantization error only shrinks
                # (numpy eigh parity test unchanged). In between, w has
                # exactly ONE consumer (the next join), so skipping its
                # checkpoint recomputes nothing and the bounded
                # four-hop plan depth cannot re-trigger the
                # stats-squaring blowup.
                w = local_checkpoint(w)
                m = w.agg(F.max("w").alias("m"))
                v = w.crossJoin(F.broadcast(m)).select(
                    "node",
                    F.expr("(w * 1000000) div m")
                    .cast("decimal(38,0)")
                    .alias("v"),
                )
            else:
                v = w.select(
                    "node", F.col("w").cast("decimal(38,0)").alias("v")
                )
        # eager 50-row materialization INSIDE the conf scope, so the
        # restored session confs never replan this pipeline
        return local_checkpoint(
            v.select(
                F.col("node").cast("long").alias("node"),
                F.col("v").cast("long").alias("v_micros"),
            )
            .orderBy(F.desc("v_micros"), "node")
            .limit(50)
        )


_KATZ_ROUNDS = 8


def _katz_oracle(rounds: int = _KATZ_ROUNDS) -> str:
    blocks = []
    prev = "k0"
    for r in range(1, rounds + 1):
        blocks.append(
            f"""    kw{r} AS MATERIALIZED (
      SELECT s.src AS node, SUM(p.v) AS w
      FROM sym s JOIN {prev} p ON p.node = s.dst GROUP BY s.src
    ),
    k{r} AS MATERIALIZED (
      SELECT node, 1000000 + w // (SELECT att FROM att) AS v FROM kw{r}
    )"""
        )
        prev = f"k{r}"
    body = ",\n".join(blocks)
    return f"""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    att AS (
      SELECT MAX(d) + 1 AS att
      FROM (SELECT src, COUNT(*) AS d FROM sym GROUP BY src)
    ),
    k0 AS (
      SELECT DISTINCT src AS node, CAST(1000000 AS HUGEINT) AS v FROM sym
    ),
{body}
    SELECT CAST(node AS BIGINT) AS node, CAST(v AS BIGINT) AS katz_micros
    FROM k{rounds}
    ORDER BY v DESC, node LIMIT 50
    """


@query("katz_centrality", oracle=_katz_oracle())
def katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATED KATZ CENTRALITY on the co-purchase graph — the
    walk-counting prestige measure between degree (walks of length 1)
    and eigenvector centrality (the β→1/λ_max limit): x = Σ_k β^k A^k 1,
    here the standard length-{_KATZ_ROUNDS} truncation with a
    DATA-DERIVED attenuation β = 1/(max_degree + 1) (the classic
    sufficient condition β < 1/λ_max, since λ_max ≤ d_max on an
    undirected graph — so the truncated sum is a genuine partial sum
    of a convergent series, not a diverging iterate). Realized in pure
    integers: x ← 1e6 + floor(Σ_nbr x(nbr) / att) per round, every
    operand non-negative so floor == trunc on both engines and the
    fixed-round result value-hashes bit-for-bit regardless of how far
    the tail has decayed.

    Scale shape: identical to `eigenvector_centrality` — each round is
    ONE keyed join edges→x plus a hash aggregate (the Pregel superstep
    shape), per-round localCheckpoint cuts the lineage, att is a 1-row
    broadcast, x is node-sized and broadcast under the adaptive gate.
    Edge list memoized per session (`_copurchase_pairs`)."""
    pairs, _ = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    att = deg.agg((F.max("d") + 1).cast("decimal(38,0)").alias("att"))
    v = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1000000).cast("decimal(38,0)").alias("v"))
    )
    v = local_checkpoint(v)
    hint = broadcast_hint(spark, parquet_num_rows(sf_dir, "part"), v.schema)
    for _ in range(_KATZ_ROUNDS):
        w = local_checkpoint(
            sym.join(
                hint(v.select(F.col("node").alias("vn"), "v")),
                F.col("dst") == F.col("vn"),
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("v").alias("w"))
        )
        v = w.crossJoin(F.broadcast(att)).select(
            "node",
            (F.lit(1000000).cast("decimal(38,0)") + F.expr("w div att"))
            .cast("decimal(38,0)")
            .alias("v"),
        )
    return (
        v.select(
            F.col("node").cast("long").alias("node"),
            F.col("v").cast("long").alias("katz_micros"),
        )
        .orderBy(F.desc("katz_micros"), "node")
        .limit(50)
    )


katz_centrality.__doc__ = katz_centrality.__doc__.format(_KATZ_ROUNDS=_KATZ_ROUNDS)


@query(
    "khop_induced_subgraph",
    oracle=f"""
    WITH {_oracle_bfs_cte(_BTW_SEEDS)},
    s AS (SELECT DISTINCT node FROM bfs),
    cls AS (
      SELECT p.a, p.b,
             CASE WHEN sa.node IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN sb.node IS NOT NULL THEN 1 ELSE 0 END AS hits
      FROM pr p
      LEFT JOIN s sa ON sa.node = p.a
      LEFT JOIN s sb ON sb.node = p.b
    )
    SELECT CAST({_BTW_SEEDS} AS BIGINT) AS n_seeds,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_nodes,
           CAST(SUM(CASE WHEN hits = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_edges_induced,
           CAST(SUM(CASE WHEN hits = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_edges_boundary,
           CAST(COUNT(*) AS BIGINT) AS n_edges_total
    FROM cls
    """,
)
def khop_induced_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-HOP INDUCED SUBGRAPH extraction summary — the GNN minibatch
    primitive one level above `gnn_neighbor_sample`'s per-node cuts:
    the depth-3 closure of the 16 content-hash seeds (the memoized
    `_seed_bfs` — this key RIDES the same BFS betweenness/closeness
    built, zero extra frontier work in a warm session) defines the
    node set S; the readout counts the edges INDUCED by S (both
    endpoints in — what a subgraph-sampling trainer would load), the
    BOUNDARY edges (exactly one endpoint in — the halo a
    message-passing layer beyond the horizon would need, i.e. the
    truncation bias made visible), and the graph total.

    Scale shape: the BFS is memoized; membership classification is two
    LEFT probes of the canonical edge list against the node set
    (broadcast under the adaptive gate inside `_seed_bfs`'s machinery;
    here Catalyst-decided) plus one 1-row aggregate. Nothing pairwise,
    no windows over data-sized input."""
    bfs, _seeds = _seed_bfs(spark, sf_dir, _BTW_SEEDS)
    pairs, _ = _copurchase_pairs(spark, sf_dir)
    s = bfs.select("node").distinct()
    sa = s.select(F.col("node").alias("a")).withColumn("ha", F.lit(1))
    sb = s.select(F.col("node").alias("b")).withColumn("hb", F.lit(1))
    cls = (
        pairs.join(sa, "a", "left")
        .join(sb, "b", "left")
        .select(
            (F.coalesce("ha", F.lit(0)) + F.coalesce("hb", F.lit(0))).alias("hits")
        )
    )
    n_nodes = s.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        cls.agg(
            F.sum(F.when(F.col("hits") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_edges_induced"),
            F.sum(F.when(F.col("hits") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_edges_boundary"),
            F.count(F.lit(1)).cast("long").alias("n_edges_total"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .select(
            F.lit(_BTW_SEEDS).cast("long").alias("n_seeds"),
            "n_nodes",
            "n_edges_induced",
            "n_edges_boundary",
            "n_edges_total",
        )
    )


@query(
    "landmark_distances",
    oracle=f"""
    WITH {_oracle_bfs_cte(4)},
    piv AS (
      SELECT b.node,
             MIN(CASE WHEN s.i = 0 THEN b.dist END) AS r0,
             MIN(CASE WHEN s.i = 1 THEN b.dist END) AS r1,
             MIN(CASE WHEN s.i = 2 THEN b.dist END) AS r2,
             MIN(CASE WHEN s.i = 3 THEN b.dist END) AS r3,
             CAST(COUNT(*) AS BIGINT) AS n_reached
      FROM bfs b JOIN seeds s ON s.n = b.root
      GROUP BY b.node
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COALESCE(r0, -1) AS BIGINT) AS d0,
           CAST(COALESCE(r1, -1) AS BIGINT) AS d1,
           CAST(COALESCE(r2, -1) AS BIGINT) AS d2,
           CAST(COALESCE(r3, -1) AS BIGINT) AS d3,
           n_reached
    FROM piv
    ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 50
    """,
)
def landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANDMARK DISTANCE SKETCH — per node, the exact BFS distance to
    each of the 4 smallest-md5 landmark seeds (-1 when outside the
    depth horizon), the precompute behind landmark-based shortest-path
    estimation (d(u,v) <= min_L d(u,L) + d(L,v), Potamias et al.): the
    serving-time structure the sampled centralities' BFS already
    builds. Readout = a content-hash sample of 50 reached nodes (the
    md5 ordering keeps the sample growth-stable and engine-portable).

    Exactness: distances are exact integers from the same
    (root, node, dist) BFS the oracle unrolls as MATERIALIZED CTEs —
    the conditional-MIN pivot is pure relational algebra on them.

    Scale shape (100 TB): RIDES the memoized multi-source seed BFS
    (`_seed_bfs` — betweenness/closeness/edge-betweenness share the
    same build, 4 seeds are an exact root-filter of the 16-seed memo),
    so the marginal cost is one (root->i) broadcast join, a node-keyed
    pivot aggregate, and a TakeOrdered — no new graph traversal. The
    pivot is k columns BY CONSTRUCTION (k landmarks is a config
    constant, never data-sized)."""
    bfs, seeds = _seed_bfs(spark, sf_dir, 4)
    j = bfs.join(
        F.broadcast(seeds.select(F.col("n").alias("root"), "i")), "root"
    )
    piv = j.groupBy("node").agg(
        *[
            F.min(F.when(F.col("i") == k, F.col("dist"))).alias(f"r{k}")
            for k in range(4)
        ],
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )
    return (
        piv.select(
            F.col("node").cast("long").alias("node"),
            *[
                F.coalesce(F.col(f"r{k}"), F.lit(-1)).cast("long").alias(f"d{k}")
                for k in range(4)
            ],
            "n_reached",
        )
        .orderBy(F.md5(F.col("node").cast("string")), "node")
        .limit(50)
    )


@query(
    "rich_club_coefficient",
    oracle="""
    WITH pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM pr UNION ALL SELECT b FROM pr
      ) GROUP BY n
    ),
    ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2), (4), (8)) t(k)),
    nk AS (
      SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_k
      FROM ks LEFT JOIN deg ON deg.d > ks.k GROUP BY ks.k
    ),
    ek AS (
      SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
      FROM ks
      LEFT JOIN (
        SELECT pr.a, pr.b, da.d AS dda, db.d AS ddb
        FROM pr JOIN deg da ON da.n = pr.a JOIN deg db ON db.n = pr.b
      ) e ON e.dda > ks.k AND e.ddb > ks.k
      GROUP BY ks.k
    )
    SELECT nk.k, nk.n_k, ek.e_k,
           CAST(CASE WHEN nk.n_k >= 2
                     THEN (2000000 * ek.e_k) // (nk.n_k * (nk.n_k - 1))
                     ELSE 0 END AS BIGINT) AS phi_micros
    FROM nk JOIN ek ON ek.k = nk.k
    ORDER BY nk.k
    """,
)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB COEFFICIENT of the co-purchase graph at k = 2, 4, 8 —
    phi(k) = (edges among nodes of degree > k) / (n_k choose 2): do the
    hubs preferentially connect to each other? The G-family's
    core-structure diagnostic next to degree_stats' marginal view and
    kcore_membership's cohesion cut (k-core asks who SURVIVES mutual
    support; rich-club asks how DENSE the elite subgraph is). All
    counts exact; phi is one floor division per k.

    Scale shape: degrees are one hash aggregate over the memoized
    checkpointed edge list (`_copurchase_pairs`); the elite-edge count
    joins edges to the (broadcastable) degree table twice and reduces
    per k over the constant 3-row k dimension — nothing pairwise, no
    per-k rescan of the data (CASE sums share one pass)."""
    pairs, _ = _copurchase_pairs(spark, sf_dir)
    deg = (
        _pair_nodes(pairs, distinct=False)
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e = (
        pairs.join(
            F.broadcast(deg.select(F.col("n").alias("a"), F.col("d").alias("da"))),
            "a",
        )
        .join(
            F.broadcast(deg.select(F.col("n").alias("b"), F.col("d").alias("db"))),
            "b",
        )
        .select("da", "db")
    )
    ks = spark.range(1, 9).where(F.col("id").isin(2, 4, 8)).select(
        F.col("id").cast("long").alias("k")
    )
    nk = (
        F.broadcast(ks)
        .join(deg, F.col("d") > F.col("k"), "left")
        .groupBy("k")
        .agg(F.count("d").cast("long").alias("n_k"))
    )
    ek = (
        F.broadcast(ks)
        .join(e, (F.col("da") > F.col("k")) & (F.col("db") > F.col("k")), "left")
        .groupBy("k")
        .agg(F.count("da").cast("long").alias("e_k"))
    )
    return (
        nk.join(ek, "k")
        .select(
            "k",
            "n_k",
            "e_k",
            F.when(
                F.col("n_k") >= 2,
                F.expr("(2000000 * e_k) div (n_k * (n_k - 1))"),
            )
            .otherwise(0)
            .cast("long")
            .alias("phi_micros"),
        )
        .orderBy("k")
    )
