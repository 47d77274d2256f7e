"""Graph-analytics operators (SURVEY.md §2.12 + chain traversals of §2.3):
the reference's Gremlin traversal capabilities generalized to normalized
vertex/edge DataFrames — chain tip, parent lookup, chain validity,
topological order, k-hop neighborhoods, degree statistics, and the
connected-components wallet clustering the reference declared but never
implemented (T:137, B:896).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import parquet_num_rows, table
from ..plans.iterate import local_checkpoint
from ..plans.memo import SessionMemo, release_checkpoints
from ..plans.sizing import broadcast_hint
from ..graph.components import (
    connected_components,
    incremental_components,
    list_rank,
)
from ..plans.iterate import observed_checkpoint
from ..registry import query


@query(
    "chain_tip",
    oracle="""
    SELECT event_id, epoch_ns(ts) // 1000 AS ts_us
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
    """,
)
def chain_tip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/J8: transitive closure to chain tip (B:43–46 repeat(out("chain")).until(...)).

    The reference walks the chain edge O(n) times; with height/timestamp
    materialized the tip is a TakeOrdered top-1 — O(1) passes, no
    iteration at any scale.
    """
    return (
        table(spark, sf_dir, "events")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .select("event_id", F.unix_micros("ts").alias("ts_us"))
        .limit(1)
    )


@query(
    "parent_lookup",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey, o_custkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT a.o_orderkey, b.o_orderkey AS parent_orderkey
    FROM seq a LEFT JOIN seq b ON a.o_custkey = b.o_custkey AND b.rn = a.rn - 1
    """,
)
def parent_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: parent-block lookup along the chain edge (B:97, B:525 in("chain")).

    A self-join on the sequence position — the set-oriented form of the
    reference's one-parent-at-a-time Gremlin walk.
    """
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).alias("rn")
    ).localCheckpoint(eager=True)
    a = seq.alias("a")
    b = seq.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.rn") == F.col("a.rn") - 1),
        "left",
    ).select(
        F.col("a.o_orderkey").alias("o_orderkey"),
        F.col("b.o_orderkey").alias("parent_orderkey"),
    )


@query(
    "chain_validity",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderkey,
             LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_key
      FROM orders
    )
    SELECT o_custkey,
           COUNT(CASE WHEN prev_key IS NOT NULL AND prev_key > o_orderkey THEN 1 END) AS n_violations
    FROM seq GROUP BY o_custkey
    """,
)
def chain_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/W1: chain-validity adjacent-pair check (B:428–435: each block's
    prevHash must equal its predecessor's hash) — LAG + predicate + count,
    replacing the sequential Java loop with one windowed pass."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.lag("o_orderkey").over(w).alias("prev_key")
    )
    return seq.groupBy("o_custkey").agg(
        F.count(
            F.when(F.col("prev_key").isNotNull() & (F.col("prev_key") > F.col("o_orderkey")), 1)
        ).alias("n_violations")
    )


@query(
    "topo_order",
    oracle="""
    SELECT event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS pos
    FROM events
    """,
)
def topo_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: parent-first topological order (B:392–412 in-buffer selection sort).

    The per-user event chains are linked via (id, parent) edges only, then
    positions are reconstructed by pointer-jumping list ranking
    (graph/components.py): O(log L) self-joins vs the reference's O(L²)
    selection sort. The window below only *builds* the parent links (the
    reference gets prev_hash in its input); ranking never sees the order.
    """
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    links = ev.select(
        F.col("event_id").alias("id"), F.lag("event_id").over(w).alias("parent")
    )
    ranked = list_rank(links, "id", "parent")
    return ranked.select(F.col("id").alias("event_id"), F.col("pos").cast("long").alias("pos"))


@query(
    "khop_neighborhood",
    oracle="""
    WITH seeds AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0),
         hop1 AS (
           SELECT DISTINCT l_suppkey
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           WHERE o_custkey IN (SELECT c_custkey FROM seeds)
         )
    SELECT DISTINCT o_custkey AS custkey_2hop
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_suppkey IN (SELECT l_suppkey FROM hop1)
    """,
)
def khop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: k-hop neighborhood expansion (J1–J6 chained hops).

    customer→supplier bipartite graph via orders×lineitem; 2 hops out of a
    seed set. Each hop is a semi-join + distinct — the frontier pattern
    that generalizes to any k without per-vertex iteration.
    """
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust_supp = orders.join(li, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey", "l_suppkey"
    )
    seeds = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 100 == 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    hop1 = (
        cust_supp.join(seeds, "o_custkey", "left_semi").select("l_suppkey").distinct()
    )
    hop2 = (
        cust_supp.join(hop1, "l_suppkey", "left_semi")
        .select(F.col("o_custkey").alias("custkey_2hop"))
        .distinct()
    )
    return hop2


@query(
    "degree_stats",
    oracle="""
    WITH deg AS (SELECT o_custkey, COUNT(*) AS degree FROM orders GROUP BY o_custkey)
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: degree distribution (A1/A7 are in/out-degrees by another name)."""
    deg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def _wallet_cc_oracle(rounds: int) -> str:
    """Linear-time oracle for the wallet connected-components family
    (VERDICT r9 #3): `rounds` unrolled MATERIALIZED-CTE rounds of
    hash-min WITH pointer jumping — each round every node takes the min
    of (its own label, its neighbors' labels, its label's label). The
    label-of-label join doubles the distance the component minimum has
    travelled each round (the _lpa_oracle / sssp unrolled-iteration
    technique plus path compression), so convergence needs ~log2 of the
    longest induced path, and every round is ONE |E| join + ONE |V|
    self-join + one min-aggregate — O(rounds·(|E|+|V|)) total, vs the
    retired recursive `reach` CTE that enumerated (node, reachable-set)
    pairs and went quadratic on the giant component (killed ~25 min in
    DuckDB at sf0.1). MATERIALIZED is load-bearing (STATUS: default
    inlining expands chained self-referencing CTEs exponentially).

    The final guard CTE compares round `rounds` with round `rounds-1`
    and emits a poison row (part = -1, whose label NULL can never equal
    a Spark label) if ANY label still moved — an un-converged unroll
    fails the gate loudly instead of shipping wrong components."""
    ctes = [
        """raw AS MATERIALIZED (
      SELECT mn AS src, l_partkey AS dst FROM (
        SELECT l_partkey,
               MIN(l_partkey) OVER (PARTITION BY l_orderkey) AS mn
        FROM lineitem
      ) WHERE mn <> l_partkey
    )""",
        """sym AS MATERIALIZED (
      SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
    )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""l{r} AS MATERIALIZED (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM l{r - 1}
        UNION ALL
        SELECT e.src AS node, l.lbl FROM sym e JOIN l{r - 1} l ON l.node = e.dst
        UNION ALL
        SELECT a.node, b.lbl FROM l{r - 1} a JOIN l{r - 1} b ON b.node = a.lbl
      ) GROUP BY node
    )"""
        )
    ctes.append(
        f"""moved AS MATERIALIZED (
      SELECT COUNT(*) AS n FROM l{rounds} a JOIN l{rounds - 1} b
      ON b.node = a.node AND b.lbl <> a.lbl
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS part, CAST(lbl AS BIGINT) AS component FROM l{rounds}
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS part, CAST(NULL AS BIGINT) AS component
    FROM moved WHERE n > 0
    """
    )


# shared by wallet_components (default driver/distributed gate),
# wallet_components_dist (distributed loop forced) and
# wallet_ids_incremental: same edges, same labels. 20 rounds of
# min-with-doubling cover an induced path of ~2^19 nodes — far beyond
# any fixture scale (sf0.1 has ~20k part nodes), and the oracle's
# poison-row guard turns "not enough rounds" into a loud gate failure.
_WALLET_COMPONENTS_ORACLE = _wallet_cc_oracle(20)


@query("wallet_components", oracle=_WALLET_COMPONENTS_ORACLE)
def wallet_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: wallet clustering via connected components — the capability the
    reference declared but stubbed (AddressWalletID always 0; T:137,
    B:29/58/896). Co-occurrence edges (parts grouped through one order ≙
    addresses co-spent in one transaction) are built by star contraction:
    every part links to the MIN part of its order — one groupBy + one
    equi-join, never the k² pair join, and identical connectivity to
    pairwise/chained edges with far lower graph diameter (every group
    collapses to a depth-1 star), so min-label propagation
    (graph/components.py) converges in fewer rounds. Component id = min
    member id, so results are deterministic and oracle-checkable via the
    unrolled hash-min+pointer-jumping CTE chain (_wallet_cc_oracle) —
    linear per round, so the oracle itself scales to sf0.1 and beyond."""
    # no dedup: star edges are consistently oriented (src = group min <
    # dst), so canonical=True holds, and the min-label aggregation
    # absorbs duplicate rows — skipping the distinct saves a full
    # shuffle of the edge list (~15% off the whole query at sf0.1)
    comp = connected_components(_star_edges(spark, sf_dir), canonical=True)
    return comp.select(F.col("node").alias("part"), F.col("comp").alias("component"))


@query("wallet_components_dist", oracle=_WALLET_COMPONENTS_ORACLE)
def wallet_components_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 scale-path witness: identical to `wallet_components` but with
    the driver-side union-find short-circuit disabled
    (driver_threshold=0), so the oracle check exercises the distributed
    Shiloach–Vishkin-style loop (graph/components.py: hash-min edge
    pass + root hooking + full path compression per round) — the code
    path that runs on any graph over 100k edges, i.e. the 100 TB
    path. At sf0.01 the star graph is ~57k edges, which the default gate
    would otherwise route to the driver path; forcing the loop gives
    the distributed implementation a direct driver-gate correctness
    witness on nontrivial merge structure (VERDICT r6 lead item)."""
    comp = connected_components(
        _star_edges(spark, sf_dir), canonical=True, driver_threshold=0
    )
    return comp.select(F.col("node").alias("part"), F.col("comp").alias("component"))


@query("wallet_ids_incremental", oracle=_WALLET_COMPONENTS_ORACLE)
def wallet_ids_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/M2: incremental wallet-id maintenance as a driver-witnessed
    key (the reference's core competency, B:296–354 read-modify-write,
    re-expressed as batch folds). The co-spend star edges are split into
    three deterministic micro-batches (l_orderkey % 3) and folded through
    graph/components.incremental_components — each fold re-labels only
    the components the batch touches (semi-join restriction), O(affected
    + batch) not O(graph). The oracle is the FULL-recompute unrolled
    hash-min chain (_wallet_cc_oracle), so a green row certifies
    batch-fold ≡ full recompute on real fixture data, not just the
    unit-test graphs (tests/test_chain.py)."""
    edges = _star_edges(spark, sf_dir)
    labels: DataFrame | None = None
    for k in range(3):
        batch = edges.where(
            F.pmod(F.col("l_orderkey"), F.lit(3)) == k
        ).select("src", "dst")
        if labels is None:
            labels = connected_components(batch, canonical=True)
        else:
            labels = incremental_components(labels, batch)
        # cut lineage (and the preserved-stats chain) between folds, as
        # a real micro-batch sink would
        labels = local_checkpoint(labels)
    return labels.select(
        F.col("node").alias("part"), F.col("comp").alias("component")
    )


# session-scoped memo for the checkpointed co-purchase edge list: the
# driver gate and bench run MANY graph keys in one SparkSession, and
# each used to rebuild the same ~1.5-2s edge list. localCheckpoint RDDs
# live for the session, so a memoized (pairs, edge_count) stays valid
# exactly as long as its key (plans/memo.py); eviction releases the
# checkpoint blocks of a stale fixture.
_PAIRS = SessionMemo(8, release=lambda v: release_checkpoints([v[0]]))


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, ps): each order's distinct parts, sorted — the one
    basket build behind every co-purchase pair list. One shuffle keyed
    on l_orderkey with map-side set dedup."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """(a, b) with a < b, one row per (basket, pair of its parts): the
    one co-purchase pair expansion. Each sorted basket emits its C(k,2)
    pairs inside a vectorized higher-order function, not as a join
    probe, so a pair's row count is its number of orders (the support
    the weighted consumers count) and `.distinct()` gives the pair
    list."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps) - i - 1),"
                " y -> struct(x as a, y as b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")


def _star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, src, dst): the one star contraction of the
    co-purchase graph — every part of an order links to the order's MIN
    part (src < dst), one groupBy + one equi-join instead of the k²
    pairs, with the same connectivity. Not deduplicated: a part listed
    twice in an order yields two rows. Consumers that select only
    src/dst get the plan without l_orderkey (Catalyst prunes it)."""
    li = table(spark, sf_dir, "lineitem")
    mins = li.groupBy("l_orderkey").agg(F.min("l_partkey").alias("src"))
    return (
        li.join(mins, "l_orderkey")
        .select("l_orderkey", "src", F.col("l_partkey").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _sym_edges(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both orientations of the canonical (a<b) pair list in ONE pass:
    each pair row explodes to its two directed edges. The one
    symmetrization of the co-purchase pair list: every consumer, lazy
    or checkpointed, reads it. A union of two projections scans the
    pair blocks once per orientation (r17: 15-18% slower on
    eigenvector_centrality/influence_cascade at sf0.1), and with a
    codegen cache sized to the registry it was no faster for the lazy,
    re-referenced consumers either (ARCHITECTURE §4)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias(src), F.col("b").alias(dst)),
                F.struct(F.col("b").alias(src), F.col("a").alias(dst)),
            )
        ).alias("e")
    ).select(f"e.{src}", f"e.{dst}")


def _bfs_levels(
    seeds: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    keys: list[str],
    depth: int,
    hint: Callable[[DataFrame], DataFrame],
) -> list[DataFrame]:
    """The one level-synchronous frontier BFS: `levels[0]` is `seeds`,
    and `levels[h]` holds the rows first reached at hop h —
    `expand(levels[h-1])` anti-joined on `keys` against every earlier
    level, checkpointed once (it is read as the next frontier, as part
    of the seen set, and by the caller). Each key lands in exactly one
    level, so a union of the levels needs no MIN aggregate. `hint`
    gates the broadcast of the seen set."""
    levels = [seeds]
    seen = seeds.select(*keys)
    for _ in range(depth):
        levels.append(
            local_checkpoint(expand(levels[-1]).join(hint(seen), keys, "left_anti"))
        )
        seen = seen.unionByName(levels[-1].select(*keys))
    return levels


def _with_dist(levels: list[DataFrame]) -> DataFrame:
    """Union of `_bfs_levels` output with each row's hop count as `dist`."""
    return reduce(
        DataFrame.unionByName,
        [lv.withColumn("dist", F.lit(h)) for h, lv in enumerate(levels)],
    )


def _pair_nodes(pairs: DataFrame, distinct: bool = True) -> DataFrame:
    """Node mentions `n` (optionally distinct) of the pair list in ONE
    pass (same rationale as _sym_edges; the per-node mention count is
    the symmetric degree)."""
    out = pairs.select(F.explode(F.array("a", "b")).alias("n"))
    return out.distinct() if distinct else out


def _copurchase_pairs(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> "tuple[DataFrame, int | None]":
    """Canonical (a<b) distinct co-purchase edges, checkpointed.

    Built by per-order combination expansion (_order_baskets →
    _basket_pairs → distinct) instead of the lineitem self-join
    (measured 1.5× faster end-to-end at sf0.1; same edges). Orders
    bound the per-group fanout (max ~7 parts/order in TPC-H-shaped
    data), so no single task inflates.

    Returns (pairs, edge_count); edge_count is None when
    checkpoint=False. The checkpoint is eager and the edge count is a
    separate job over its blocks: an observe() count would drop the
    preserved statistics that unhinted consumers plan with."""
    pairs = _basket_pairs(_order_baskets(spark, sf_dir)).distinct()
    if checkpoint:
        key = _PAIRS.key(spark, sf_dir, ("lineitem",))
        hit = _PAIRS.get(key)
        if hit is not None:
            return hit
        # reused by adjacency + both probes in the callers
        pairs = pairs.localCheckpoint(eager=True)
        return _PAIRS.put(key, (pairs, pairs.count()))
    return pairs, None


@query(
    "triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT COUNT(*) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.a = e1.b
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def triangle_count(
    spark: SparkSession, sf_dir: str, broadcast_edges_max: int | None = None
) -> DataFrame:
    """G2-family: global triangle count on the part co-purchase graph.

    Edges are canonical a<b pairs, so each triangle a<b<c is counted
    exactly once. Counting is done by forward-adjacency intersection:
    nbrs(v) = the sorted array of w>v adjacent to v, and each edge
    (a, b) contributes |nbrs(a) ∩ nbrs(b)| — the Σ(deg a + deg b) work
    happens inside one vectorized array_intersect per EDGE instead of
    materializing the Σ deg² wedge stream as rows (3–4× faster here
    than the ordered 3-way self-join it replaces, same count). The
    adjacency table is broadcast only while it fits (count-conditional
    hint, same pattern as graph/components.py — localCheckpoint output
    has no stats, so AQE can never make this call itself); past the
    threshold both probes fall back to keyed shuffles co-bucketed with
    the edge list (adjacency checkpointed there so the two probes don't
    recompute it), and hub vertices are split by AQE skew handling.

    Skew evidence: tests/test_graph_skew.py forces this shuffle path
    (broadcast_edges_max=0) on a mega-hub graph (one vertex in ~30% of
    groups) and pins the exact count. Per-ROW payload is bounded by the
    max forward-degree (w>v orientation halves hub rows); a corpus with
    hubs of forward-degree >~10^6 would want the wedge-stream form for
    those vertices — documented trade-off, not needed at fixture scale.
    """
    pairs, n_edges = _copurchase_pairs(spark, sf_dir)
    adj = pairs.groupBy("a").agg(F.array_sort(F.collect_list("b")).alias("nb"))
    # total adjacency payload ≈ one array cell per edge, so gate the
    # broadcast on the edge count (counted once per memoized pair list
    # inside _copurchase_pairs) at the pair-row width.
    # Broadcast path: leave adj unmaterialized — each broadcast build is
    # one cheap partial agg over the checkpointed pairs, cheaper than an
    # extra localCheckpoint round-trip (measured). Shuffle path: the two
    # probes would each recompute the aggregate, so checkpoint it once.
    hint = broadcast_hint(spark, n_edges, pairs.schema, broadcast_edges_max)
    if hint is not F.broadcast:
        adj = adj.localCheckpoint(eager=True)
        # Size the probe-join shuffles to the edge payload (one array
        # cell per edge on both the pairs and the joined-intermediate
        # side): 32 partitions hold ~190 MB each at 36M edges and the
        # sorter spills (measured sf3: 49.8s at 32 -> 35.3s at 128
        # action partitions). ~375k edges/partition targets ~64 MB;
        # AQE coalesces any overshoot back down. Session-level (not
        # scoped_confs) because the partition count must hold when the
        # caller's action runs, after this builder returns; effectively
        # query-scoped because the registry wrapper re-pins it via
        # prep() on every builder entry.
        n_part = max(32, min(2048, n_edges // 375_000))
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    adj_a = adj.select(F.col("a").alias("ea"), F.col("nb").alias("nba"))
    adj_b = adj.select(F.col("a").alias("eb"), F.col("nb").alias("nbb"))
    tri = (
        pairs.join(hint(adj_a), pairs.a == F.col("ea"))
        .join(hint(adj_b), pairs.b == F.col("eb"))
        .select(F.size(F.array_intersect("nba", "nbb")).alias("n"))
    )
    return tri.agg(F.sum("n").cast("long").alias("n_triangles"))


@query(
    "clustering_coefficient",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    seeds AS (SELECT p_partkey AS u FROM part WHERE p_size = 50),
    nb AS (SELECT s.u, sym.v FROM seeds s JOIN sym ON sym.u = s.u),
    deg AS (SELECT u, COUNT(*) AS degree FROM nb GROUP BY u),
    closed AS (
      SELECT n1.u, COUNT(*) AS n_closed
      FROM nb n1
      JOIN nb n2 ON n2.u = n1.u AND n1.v < n2.v
      JOIN pairs p ON p.u = n1.v AND p.v = n2.v
      GROUP BY n1.u
    )
    SELECT d.u AS node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(c.n_closed, 0) AS BIGINT) AS n_closed,
           ROUND(CASE WHEN d.degree >= 2
                      THEN 2.0 * COALESCE(c.n_closed, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS coeff
    FROM deg d LEFT JOIN closed c ON c.u = d.u
    """,
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 companion: local clustering coefficient for a seed set (the
    p_size=50 parts, same seeds as bfs_distance) on the part
    co-purchase graph — closed-wedge fraction per node, the standard
    cohesion signal next to the global triangle count.

    Same shape as triangle_count: for seed u with neighbor set N(u),
    each neighbor v contributes |fwd(v) ∩ N(u)| closed pairs (fwd =
    canonical a<b adjacency, so every closed pair counts once) — one
    vectorized array_intersect per (seed, neighbor) edge. Row count is
    linear in Σ deg(u), but each row carries the nbu and fwd ARRAYS, so
    shuffled bytes per hub seed are still ~deg(u)·(deg(u)+avg fwd deg)
    ≈ Σ deg² — the win over the wedge self-join is per-row overhead and
    JVM-vectorized intersection, not asymptotics. For degree-skewed
    graphs the scale levers are the usual ones: cap/sample hub
    neighborhoods, or orient wedges through the lower-degree endpoint
    so fwd arrays are bounded by forward-degree. The forward-adjacency
    side is broadcast only under the same count-conditional gate as
    triangle_count; past it, keyed shuffles.
    """
    pairs, n_edges = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs, "u", "v")
    pairs = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    seeds = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("u"))
    )
    nb_edges = seeds.join(sym, "u")  # (u, v) for v ∈ N(u), u a seed
    nb_arr = nb_edges.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("nbu"),
        F.count(F.lit(1)).alias("degree"),
    )
    fwd = pairs.groupBy("u").agg(F.array_sort(F.collect_list("v")).alias("fwd"))
    hint = broadcast_hint(spark, n_edges, pairs.schema)
    closed = (
        nb_edges.join(nb_arr.select("u", "nbu"), "u")
        .join(
            hint(fwd.select(F.col("u").alias("fv"), "fwd")),
            F.col("v") == F.col("fv"),
        )
        .groupBy("u")
        .agg(F.sum(F.size(F.array_intersect("fwd", "nbu"))).alias("n_closed"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(
            F.lit(2.0)
            * F.col("n_closed")
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        nb_arr.join(closed, "u", "left")
        .withColumn("n_closed", F.coalesce("n_closed", F.lit(0)))
        .select(
            F.col("u").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_closed").cast("long").alias("n_closed"),
            coeff.alias("coeff"),
        )
    )


@query(
    "bfs_distance",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    walk AS (
      SELECT p_partkey AS node, 0 AS dist FROM part WHERE p_size = 50
      UNION
      SELECT s.dst AS node, w.dist + 1 AS dist
      FROM walk w JOIN sym s ON s.src = w.node WHERE w.dist < 3
    )
    SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
    """,
)
def bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/J8 generalized: unweighted shortest-path distance (<= 3 hops)
    from a seed set, vs the reference's one-vertex-at-a-time
    repeat/until walk (B:43–46).

    A FIXED small horizon admits a stronger plan than the iterative
    Pregel form (graph/pregel.py, still the path for unbounded or large
    horizons, e.g. `sssp_weighted`): unroll the 3 levels into ONE
    linear Catalyst plan — level h expands ONLY the nodes first
    discovered at level h-1 (anti-join against the seen set), so every
    node lands in exactly one level and the result is a plain union,
    no final aggregate. Each frontier is node-sized and broadcast under
    the same 4M gate as pagerank_exact, so the lineitem projection is
    streamed MAP-SIDE with no edge shuffle and, critically, no
    per-superstep driver synchronization, eager checkpoint, or vertex-
    table maintenance join (3.42 → 1.75s at sf0.1 — the number STATUS
    records; identical recursive-CTE oracle). Past the broadcast gate
    the frontier joins degrade to keyed shuffles — the same fallback
    the Pregel path takes.
    """
    # the co-purchase graph is the BIPARTITE part–order graph projected
    # onto parts, and a frontier BFS never needs the projection
    # materialized: one co-purchase hop = part-frontier → orders
    # containing it → parts in those orders (two joins against the raw
    # 2-column lineitem projection). This skips the pair-explosion edge
    # build entirely — the groupBy/collect_set/explode/distinct chain
    # that dominated the Pregel form's runtime (~2s of its 3.4s at
    # sf0.1) never runs, and no 2×|E| symmetric edge list is ever
    # checkpointed.
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .localCheckpoint(eager=True)
    )
    # both frontier kinds are node-sized (parts / orders); gate the
    # broadcast on the bigger side's row count, read from the parquet
    # FOOTER (genuinely metadata-only — a Spark count() would be a real
    # scan job per invocation; directory-tolerant per ADVICE r6)
    n_orders = parquet_num_rows(sf_dir, "orders")

    # p_partkey is the part table's key — no dedup needed; checkpoint
    # because seeds is referenced ~5x (level-1 frontier, the seen set
    # at every level, the final union)
    seeds = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("id"))
        .localCheckpoint(eager=True)
    )
    hint = broadcast_hint(spark, n_orders, seeds.schema)

    def expand(frontier: DataFrame) -> DataFrame:
        orders = (
            li.join(hint(frontier), li["p"] == frontier["id"])
            .select("o")
            .distinct()
        )
        return li.join(hint(orders), "o").select(F.col("p").alias("id")).distinct()

    # textbook frontier BFS (_bfs_levels): each level expands ONLY the
    # nodes first discovered at the previous level, so each lineitem row
    # is emitted O(1) times across the run
    out = _with_dist(_bfs_levels(seeds, expand, ["id"], 3, hint))
    return out.select(
        F.col("id").alias("node"), F.col("dist").cast("int").alias("dist")
    )


@query("pagerank")  # rows-only: fixed-point float iteration has no SQL oracle
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphX-flagship analytic (BASELINE.json spark_approach): PageRank
    on the part co-purchase graph via the Pregel operator — attr =
    (rank, out-degree) struct, messages = rank/degree, sum combiner,
    vprog = 0.15 + 0.85*Σ. Ten fixed supersteps (shuffle count known in
    advance — the property that makes the job plannable at 100 TB).
    Verified against a hand-computed graph in tests/test_graph_analytics.py.
    """
    ranks = pagerank_ranks(_copurchase_pairs(spark, sf_dir)[0])
    return ranks.select(
        F.col("id").alias("part"),
        F.round(F.col("rank"), 6).alias("rank"),
    ).orderBy(F.col("rank").desc(), F.col("part")).limit(100)


# Integer fixed-point PageRank (the oracle-checkable G7 twin): scores
# live in units of 1/_PR_SCALE, damping is exactly 17/20, and every
# operation is int64 floor arithmetic — identical on any engine, so the
# float family's "no SQL oracle" limitation disappears. Capacity: the
# largest intermediate is 17·Σ_in(score//deg) <= 17·total_mass =
# 17·N·_PR_SCALE, so int64 holds through N ~ 5e8 nodes at this scale;
# all values stay below 2^53 at fixture scale so no double rounding can
# creep in anywhere.
_PR_SCALE = 1_000_000_000
_PR_RESET = (3 * _PR_SCALE) // 20  # (1-d)·SCALE with d = 17/20
_PR_ITERS = 5


def _pagerank_exact_oracle(iters: int) -> str:
    """Unrolled power iteration as chained MATERIALIZED CTEs; `//` in
    DuckDB and `div` in Spark agree (floor == truncate for the
    all-positive scores)."""
    sql = [
        f"""
    WITH p0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM p0 UNION ALL SELECT b, a FROM p0),
    deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
    s0 AS MATERIALIZED (SELECT id, CAST({_PR_SCALE} AS BIGINT) AS score, deg FROM deg)"""
    ]
    for r in range(iters):
        sql.append(
            f""",
    s{r + 1} AS MATERIALIZED (
      SELECT d.id,
             {_PR_RESET} + (17 * COALESCE(CAST(SUM(x.score // x.deg) AS BIGINT), 0)) // 20 AS score,
             d.deg
      FROM deg d
      LEFT JOIN sym e ON e.dst = d.id
      LEFT JOIN s{r} x ON x.id = e.src
      GROUP BY d.id, d.deg
    )"""
        )
    sql.append(
        f"""
    SELECT id AS part, CAST(score AS BIGINT) AS score
    FROM s{iters} ORDER BY score DESC, id LIMIT 100"""
    )
    return "".join(sql)


def _pagerank_exact_top(
    spark: SparkSession, sf_dir: str, seeds: DataFrame | None = None
) -> DataFrame:
    """Top-100 (part, score) of the integer fixed-point PageRank shared by
    pagerank_exact and personalized_pagerank_exact. Reset r = SCALE on
    each seed (`seeds`: one `id` column) and 0 elsewhere, or on every
    vertex when `seeds` is None; the iteration starts from r and updates
    (3·r) div 20 + (17·Σ score div deg) div 20. With r = SCALE everywhere
    the reset term is exactly _PR_RESET, every score is at least
    _PR_RESET, and the `score > 0` filter keeps every vertex."""
    pairs, _ = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    if seeds is None:
        vertices, r = deg, F.lit(_PR_SCALE).cast("long")
    else:
        vertices = deg.join(seeds.withColumn("_s", F.lit(1)), "id", "left")
        r = F.when(F.col("_s") == 1, F.lit(_PR_SCALE).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    base, n_nodes = observed_checkpoint(
        vertices.select("id", "deg", r.alias("r")), F.count(F.lit(1))
    )
    # the broadcast side is the (id, contribution) table, deg-shaped
    hint = broadcast_hint(spark, n_nodes, deg.schema)

    scores = base.select("id", F.col("r").alias("score"), "deg", "r")
    for _ in range(_PR_ITERS):
        contrib = scores.select("id", F.expr("score div deg").alias("c"))
        inbox = (
            sym.join(hint(contrib), sym["src"] == contrib["id"])
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        scores = base.join(inbox, base["id"] == inbox["dst"], "left").select(
            "id",
            F.expr(
                "(3 * r) div 20 + (17 * coalesce(m, CAST(0 AS BIGINT))) div 20"
            ).cast("long").alias("score"),
            "deg",
            "r",
        )
    return (
        scores.where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("id"))
        .limit(100)
        .select(F.col("id").alias("part"), "score")
    )


@query("pagerank_exact", oracle=_pagerank_exact_oracle(_PR_ITERS))
def pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 oracle-checked twin (VERDICT_r04 stretch): PageRank over the
    part co-purchase graph in integer fixed-point — score units of
    1/_PR_SCALE, damping exactly 17/20, per-edge contribution
    score div deg, update RESET + (17·Σ) div 20. Floor arithmetic makes
    the iteration bit-identical across engines regardless of summation
    order, which float PageRank can never be; the float `pagerank` key
    remains the production path (no quantization drift), this key is
    the determinism gate for the whole Pregel machinery.

    Same scale shape as pagerank_ranks: one keyed shuffle per
    iteration (inbox groupBy dst), contributions broadcast under the
    node-count gate, edges localCheckpointed once.
    """
    return _pagerank_exact_top(spark, sf_dir)


def _ppr_exact_oracle(iters: int) -> str:
    """Personalized variant of _pagerank_exact_oracle: the reset mass
    returns to the p_size=50 seed set instead of every vertex."""
    sql = [
        f"""
    WITH p0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM p0 UNION ALL SELECT b, a FROM p0),
    deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
    seeds AS MATERIALIZED (SELECT DISTINCT p_partkey AS id FROM part WHERE p_size = 50),
    base AS MATERIALIZED (
      SELECT d.id, d.deg,
             CASE WHEN s.id IS NOT NULL THEN CAST({_PR_SCALE} AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS r
      FROM deg d LEFT JOIN seeds s ON s.id = d.id
    ),
    s0 AS MATERIALIZED (SELECT id, r AS score, deg, r FROM base)"""
    ]
    for r in range(iters):
        sql.append(
            f""",
    s{r + 1} AS MATERIALIZED (
      SELECT b.id,
             (3 * b.r) // 20 + (17 * COALESCE(CAST(SUM(x.score // x.deg) AS BIGINT), 0)) // 20 AS score,
             b.deg, b.r
      FROM base b
      LEFT JOIN sym e ON e.dst = b.id
      LEFT JOIN s{r} x ON x.id = e.src
      GROUP BY b.id, b.deg, b.r
    )"""
        )
    sql.append(
        f"""
    SELECT id AS part, CAST(score AS BIGINT) AS score
    FROM s{iters} WHERE score > 0 ORDER BY score DESC, id LIMIT 100"""
    )
    return "".join(sql)


@query("personalized_pagerank_exact", oracle=_ppr_exact_oracle(_PR_ITERS))
def personalized_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 personalized variant in the same integer fixed-point form as
    pagerank_exact: reset mass (3·r) div 20 returns only to the
    p_size=50 seed set (r = SCALE on seeds, 0 elsewhere; iteration
    starts from the reset vector), so score is exact integer proximity
    to the seeds. WHERE score > 0 keeps the output to vertices actually
    reached within the 5 supersteps — deterministic under floor
    arithmetic, unlike a float threshold."""
    seeds = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("id"))
        .distinct()
    )
    return _pagerank_exact_top(spark, sf_dir, seeds)


@query("personalized_pagerank")  # rows-only: fixed-point float iteration
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 variant: personalized PageRank seeded at the p_size=50 parts
    (the same source set bfs_distance uses) over the part co-purchase
    graph — proximity-to-seeds instead of global centrality. NumPy
    power-iteration parity pinned in tests/test_graph_analytics.py."""
    seeds = table(spark, sf_dir, "part").where(F.col("p_size") == 50).select(
        F.col("p_partkey")
    )
    ranks = pagerank_ranks(_copurchase_pairs(spark, sf_dir)[0], seeds=seeds)
    return (
        ranks.select(
            F.col("id").alias("part"), F.round(F.col("rank"), 9).alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("part"))
        .limit(100)
    )


def pagerank_ranks(
    pairs: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    init_ranks: DataFrame | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(id, rank) over the symmetrized edge list of canonical pairs (two
    columns, read by position): rank_v = (1-d)·reset_v + d·Σ_u rank_u/deg_u.

    Global PageRank (`seeds` None) resets to 1.0 everywhere, so the
    update is exactly 0.15 + 0.85·Σ ((1-d)·1.0 == (1-d) in floating
    point). Personalized PageRank (`seeds`: a one-column DataFrame of
    vertex ids) teleports the random surfer to the seed set instead:
    reset_v = 1/|S| on seeds and 0 elsewhere — rank becomes proximity
    to the seeds (the similar-wallets / related-documents primitive).
    The iteration starts from the reset vector.

    `init_ranks` (id, rank) warm-starts the power iteration — the
    incremental-maintenance path: after an edge batch lands, restart
    from the previous fixpoint and far fewer supersteps recover
    convergence (each superstep is the full O(E) shuffle either way, so
    fewer rounds IS the saving; pinned in tests/test_graph_analytics.py).
    Vertices new to the graph start from their reset value.

    Pregel shape (100 TB): one keyed shuffle per superstep, fixed
    superstep count, sum combiner, the reset value riding in the vertex
    attr so there is no per-round seed join."""
    from ..graph.pregel import pregel

    sym = _sym_edges(pairs.toDF("a", "b")).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    if seeds is None:
        reset = F.lit(1.0)
    else:
        seed_ids = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
        n_seeds = seed_ids.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank needs a non-empty seed set")
        deg = deg.join(seed_ids.withColumn("_s", F.lit(1.0)), "id", "left")
        reset = F.coalesce(F.col("_s"), F.lit(0.0)) / F.lit(float(n_seeds))
    rank0 = reset
    if init_ranks is not None:
        init = init_ranks.select("id", F.col("rank").alias("_r0"))
        deg = deg.join(init, "id", "left")
        rank0 = F.coalesce(F.col("_r0"), reset)
    vertices = deg.select(
        "id",
        F.struct(
            rank0.alias("rank"), F.col("deg").alias("deg"), reset.alias("reset")
        ).alias("attr"),
    )
    out = pregel(
        vertices,
        sym,
        send_msg=lambda s, d: s["rank"] / s["deg"],
        agg_msg=F.sum,
        vprog=lambda attr, msg: F.struct(
            (F.lit(1 - damping) * attr["reset"] + F.lit(damping) * msg).alias("rank"),
            attr["deg"].alias("deg"),
            attr["reset"].alias("reset"),
        ),
        max_iter=n_iter,
        needs_dst_attr=False,
        check_convergence=False,
    )
    return out.select("id", F.col("attr")["rank"].alias("rank"))


@query(
    "neighbor_jaccard",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT a AS u, b AS v FROM pairs
            UNION ALL SELECT b AS u, a AS v FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    inter AS (
      SELECT p.a, p.b, COUNT(*) AS i
      FROM pairs p
      JOIN sym s1 ON s1.u = p.a
      JOIN sym s2 ON s2.u = p.b AND s2.v = s1.v
      GROUP BY p.a, p.b
    )
    SELECT p.a, p.b,
           CAST(COALESCE(i.i, 0) AS BIGINT) AS n_common,
           CAST(da.d + db.d - COALESCE(i.i, 0) AS BIGINT) AS n_union,
           ROUND(COALESCE(i.i, 0) * 1.0
                 / (da.d + db.d - COALESCE(i.i, 0)), 6) AS jaccard
    FROM pairs p
    JOIN deg da ON da.u = p.a
    JOIN deg db ON db.u = p.b
    LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
    """,
)
def neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 companion: per-edge neighborhood Jaccard similarity on the
    part co-purchase graph — |N(a) ∩ N(b)| / |N(a) ∪ N(b)| for every
    canonical edge (a, b), the standard link-strength / link-prediction
    feature next to triangle counts (endpoints kept in the sets; no
    self-loops exist, so they are never common and affect only the
    union size, identically on both engines).

    Same adjacency-array shape as triangle_count, but over the FULL
    undirected adjacency (Jaccard needs both directions): one
    array_intersect per edge gives |∩|, and |∪| = deg(a) + deg(b) −
    |∩| from the degrees the same aggregate already produced — no
    second intersection. Row count is linear in edges; like
    clustering_coefficient the rows carry neighbor ARRAYS, so shuffled
    bytes are ~Σ deg² for hub-heavy graphs — cap or minhash-sketch hub
    neighborhoods past ~10⁴ degree at 100 TB (sketched Jaccard is the
    dedup_minhash estimator pointed at adjacency sets). Adjacency is
    broadcast under the same count-conditional gate as triangle_count;
    past it, keyed shuffles with AQE skew splitting.
    """
    pairs, n_edges = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs, "a", "b")
    adj = sym.groupBy("a").agg(
        F.array_sort(F.collect_list("b")).alias("nb"),
        F.count(F.lit(1)).alias("d"),
    )
    # the full adjacency holds both orientations: 2·|pairs| cells
    hint = broadcast_hint(spark, 2 * n_edges, pairs.schema)
    if hint is not F.broadcast:
        adj = adj.localCheckpoint(eager=True)
    adj_a = adj.select(F.col("a").alias("ja"), F.col("nb").alias("nba"), F.col("d").alias("da"))
    adj_b = adj.select(F.col("a").alias("jb"), F.col("nb").alias("nbb"), F.col("d").alias("db"))
    inter = F.size(F.array_intersect("nba", "nbb")).cast("long")
    return (
        pairs.join(hint(adj_a), pairs.a == F.col("ja"))
        .join(hint(adj_b), pairs.b == F.col("jb"))
        .select(
            "a",
            "b",
            inter.alias("n_common"),
            (F.col("da") + F.col("db") - inter).cast("long").alias("n_union"),
            F.round(
                inter * F.lit(1.0) / (F.col("da") + F.col("db") - inter), 6
            ).alias("jaccard"),
        )
    )


# The oracle-checked kcore_membership key peels the SUPPORT>=2
# co-purchase graph (pairs co-bought in >= _KCORE_MIN_SUPPORT distinct
# orders) at k=_KCORE_K: on that sparser graph the peel genuinely
# iterates at fixture scale (3 rounds at sf0.01, 6 at sf0.1), unlike
# the dense support-1 graph where every node is already a 3-core.
# _KCORE_ORACLE_ROUNDS bounds the unrolled DuckDB oracle; the builder
# raises if Spark's peel has not converged within it, so a fixture
# drift that deepens the peel fails LOUDLY instead of silently
# diverging from the oracle.
_KCORE_K = 2
_KCORE_MIN_SUPPORT = 2
_KCORE_ORACLE_ROUNDS = 12


def _kcore_oracle(k: int, min_support: int, rounds: int) -> str:
    """Bounded-round unrolled peel as chained CTEs (VERDICT_r04 #7).

    DuckDB's recursive CTEs append rows monotonically and cannot
    express iterated deletion, but the peel depth is data-bounded and
    small, so `rounds` explicit rounds — degree aggregate, weak set,
    NOT-IN edge filter — emulate the fixpoint exactly; converged
    rounds are no-ops (empty weak set)."""
    # AS MATERIALIZED: each round references the previous CTE three
    # times; DuckDB's default CTE inlining would expand the chain
    # exponentially (3^rounds scans of lineitem)
    sql = [
        f"""
    WITH p0 AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS a, b.l_partkey AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ) GROUP BY a, b HAVING COUNT(*) >= {min_support}
    ),
    e0 AS MATERIALIZED (SELECT a, b FROM p0 UNION ALL SELECT b AS a, a AS b FROM p0)"""
    ]
    for r in range(rounds):
        sql.append(
            f""",
    w{r} AS MATERIALIZED (
      SELECT a FROM e{r} GROUP BY a HAVING COUNT(*) < {k}
    ),
    e{r + 1} AS MATERIALIZED (
      SELECT a, b FROM e{r}
      WHERE a NOT IN (SELECT a FROM w{r}) AND b NOT IN (SELECT a FROM w{r})
    )"""
        )
    sql.append(
        f"""
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{rounds} GROUP BY a"""
    )
    return "".join(sql)


def kcore(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    max_iter: int = 30,
    min_support: int = 1,
    require_convergence: bool = False,
) -> DataFrame:
    """G8-family: k-core decomposition — the maximal subgraph where
    every node keeps >= k neighbors, the standard cohesion filter
    before community detection and the dense-region prefilter for
    triangle-heavy analytics.

    Iterative peeling: drop all nodes with degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint. Each round is
    one keyed degree aggregate + two semi-joins (edge endpoints against
    surviving nodes), with the same iterative discipline as
    graph/components.py: lineage cut per round via eager
    localCheckpoint, and NO separate convergence probe — the weak-node
    count the peel needs anyway rides the checkpoint job as an
    observe() metric (plans.iterate.observed_checkpoint). Rounds = peel depth (typically small; max_iter bounds
    pathological chains). The surviving-node side of each semi-join is
    count-gated for broadcast like every loop here; past the gate,
    keyed shuffles with AQE. Exact parity with a pure-Python peel is
    pinned in tests/test_graph_cohesion.py.
    """
    if min_support > 1:
        pairs, n_edges = _copurchase_pairs_support(spark, sf_dir, min_support)
    else:
        pairs, n_edges = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs, "a", "b").localCheckpoint(eager=True)
    # the broadcast side is a node set no larger than |sym| = 2·|pairs|
    # by construction — gate the hint without a job
    hint = broadcast_hint(spark, 2 * n_edges, sym.select("a").schema)

    edges = sym
    for _ in range(max_iter):
        deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        # the peel set's size is an observe() metric on its checkpoint
        # job (components.observed_checkpoint) — one job per round,
        # convergence probe included
        weak, n_weak = observed_checkpoint(
            deg.where(F.col("deg") < k).select("a"), F.count(F.lit(1))
        )
        if n_weak == 0:
            return deg.select(
                F.col("a").alias("node"), F.col("deg").cast("long").alias("core_degree")
            )
        # stats-reset checkpoint (plans/iterate.py): the per-round joins
        # square preserved size estimates otherwise
        edges = local_checkpoint(
            edges.join(hint(weak), "a", "left_anti").join(
                hint(weak.select(F.col("a").alias("b"))), "b", "left_anti"
            )
        )
    if require_convergence:
        raise RuntimeError(
            f"k-core peel did not converge within {max_iter} rounds; the"
            " unrolled oracle would silently disagree — raise the bound"
            " in BOTH _KCORE_ORACLE_ROUNDS and _kcore_oracle"
        )
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    return deg.select(
        F.col("a").alias("node"), F.col("deg").cast("long").alias("core_degree")
    )


def _copurchase_pairs_support(
    spark: SparkSession, sf_dir: str, min_support: int
) -> tuple[DataFrame, int]:
    """Canonical (a<b) co-purchase edges kept only when the pair
    co-occurs in >= min_support DISTINCT orders — the sparse
    high-confidence projection (same thresholding the copurchase_weights
    key exposes as a weight column). Same combination-expansion build as
    _copurchase_pairs; the support count replaces the distinct()."""
    pairs = (
        _basket_pairs(_order_baskets(spark, sf_dir))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .select("a", "b")
    )
    pairs = pairs.localCheckpoint(eager=True)
    return pairs, pairs.count()


@query("kcore_membership", oracle=_kcore_oracle(_KCORE_K, _KCORE_MIN_SUPPORT, _KCORE_ORACLE_ROUNDS))
def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked k-core (VERDICT_r04 stretch #7): 2-core of the
    support>=2 co-purchase graph, where the peel iterates for real at
    fixture scale (6 rounds at sf0.1). The DuckDB oracle unrolls
    _KCORE_ORACLE_ROUNDS peel rounds as chained CTEs; the Spark peel
    raises if it needs more (require_convergence), so the bound can
    never silently desynchronize."""
    return kcore(
        spark,
        sf_dir,
        k=_KCORE_K,
        max_iter=_KCORE_ORACLE_ROUNDS,
        min_support=_KCORE_MIN_SUPPORT,
        require_convergence=True,
    )


@query(
    "graph_assortativity",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    ends AS (
      SELECT da.d AS x, db.d AS y
      FROM sym s JOIN deg da ON da.u = s.u JOIN deg db ON db.u = s.v
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ends
    )
    SELECT ROUND(
      (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      / SQRT((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
        AS assortativity,
      m AS n_edge_ends
    FROM sums
    WHERE CAST(m AS DOUBLE) * sxx > CAST(sx AS DOUBLE) * sx
      AND CAST(m AS DOUBLE) * syy > CAST(sy AS DOUBLE) * sy
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 companion: degree assortativity — the Pearson correlation of
    degrees across edge endpoints (Newman's r), the one-number summary
    of whether hubs attach to hubs (r>0) or to leaves (r<0).

    All moments (m, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact int64 —
    order-independent, so the final Pearson is a handful of
    deterministic double ops on identical operands and hashes
    bit-identically. Plan: one degree aggregate, two keyed joins to
    decorate edge ends, one global moment aggregate (map-side
    combinable) — no window, no sort, no iteration; at 100 TB the
    degree table follows the same count-gated broadcast rule as every
    adjacency join here (unhinted: deg is an aggregate with stats, AQE
    decides).
    """
    pairs, _ = _copurchase_pairs(spark, sf_dir)
    sym = _sym_edges(pairs, "u", "v")
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ends = (
        sym.join(deg.select(F.col("u").alias("ju"), F.col("d").alias("x")), F.col("u") == F.col("ju"))
        .join(deg.select(F.col("u").alias("jv"), F.col("d").alias("y")), F.col("v") == F.col("jv"))
        .select("x", "y")
    )
    sums = ends.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    md = F.col("m").cast("double")
    # positive-variance guard: on a degree-regular graph the Pearson
    # denominator is 0 and Spark's NULL would disagree with DuckDB's
    # inf/NaN — emit no row instead, on BOTH engines. Products compared
    # as double (not int64) so a huge edge count can't wrap the guard.
    return sums.where(
        (md * F.col("sxx") > F.col("sx").cast("double") * F.col("sx"))
        & (md * F.col("syy") > F.col("sy").cast("double") * F.col("sy"))
    ).select(
        F.round(
            (md * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (md * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * (md * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
        F.col("m").alias("n_edge_ends"),
    )


@query(
    "copurchase_weights",
    oracle="""
    SELECT a.l_partkey AS a, b.l_partkey AS b,
           CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    """,
)
def copurchase_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5-adjacent: the WEIGHTED bipartite projection — co-purchase
    edges with w = number of orders containing both parts, the edge
    weight every similarity/community step downstream consumes (the
    unweighted projection is `_copurchase_pairs`).

    Same combination-expansion build (one groupBy(order) shuffle,
    map-side set dedup, vectorized pair explode) but WITHOUT the
    distinct — each order emits each pair once, so a plain count per
    pair is the distinct-order weight with no count-distinct state.
    """
    pairs = _basket_pairs(_order_baskets(spark, sf_dir))
    return pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("w"))


# Weighted single-source shortest path (the Dijkstra/Bellman-Ford face
# of G6): integer edge costs derived from co-purchase support (a
# high-confidence edge — >= 2 shared orders — costs 1, a weak edge 3),
# relaxed for a fixed horizon of rounds. Integer costs + min() make the
# whole computation order-independent, so the unrolled-CTE oracle is
# exact. Capacity: dist <= 3 * _SSSP_ROUNDS — nowhere near int64.
_SSSP_ROUNDS = 4


def _sssp_oracle(rounds: int) -> str:
    """Unrolled Bellman-Ford as chained MATERIALIZED CTEs (default CTE
    inlining would expand the self-referencing chain exponentially)."""
    sql = [
        """
    WITH p0 AS MATERIALIZED (
      SELECT a.l_partkey AS a, b.l_partkey AS b,
             CASE WHEN COUNT(DISTINCT a.l_orderkey) >= 2 THEN 1 ELSE 3 END AS cost
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst, cost FROM p0
      UNION ALL
      SELECT b AS src, a AS dst, cost FROM p0
    ),
    d0 AS MATERIALIZED (
      SELECT p_partkey AS id, CAST(0 AS BIGINT) AS dist
      FROM part WHERE p_size = 50
    )"""
    ]
    for r in range(rounds):
        sql.append(
            f""",
    d{r + 1} AS MATERIALIZED (
      SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM d{r}
        UNION ALL
        SELECT e.dst AS id, x.dist + e.cost AS dist
        FROM sym e JOIN d{r} x ON x.id = e.src
      ) GROUP BY id
    )"""
        )
    sql.append(
        f"""
    SELECT id AS node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"""
    )
    return "".join(sql)


@query("sssp_weighted", oracle=_sssp_oracle(_SSSP_ROUNDS))
def sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 weighted variant: Bellman-Ford over the weighted co-purchase
    graph (cost 1 for support>=2 edges, 3 for weak ones), _SSSP_ROUNDS
    relaxation rounds from the p_size=50 seed set — the
    shortest-weighted-path generalization of `bfs_distance` the
    reference's repeat/until walk (B:43–46) cannot express.

    Scale shape: each round is ONE keyed shuffle (relax messages
    groupBy dst, min combiner) plus a node-keyed fold; the frontier
    table is node-sized, broadcast into the edge join under the same
    4M-node gate as pagerank_exact (counted directly on the distinct
    node set, not inferred from edge rows). Edges are
    localCheckpointed once — every round re-reads the same
    materialized partitions.
    """
    weighted = (
        _basket_pairs(_order_baskets(spark, sf_dir))
        .groupBy("a", "b")
        .agg(F.when(F.count(F.lit(1)) >= 2, F.lit(1)).otherwise(F.lit(3)).alias("cost"))
    )
    sym = weighted.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "cost"
    ).unionByName(
        weighted.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "cost"
        )
    )
    sym = sym.localCheckpoint(eager=True)
    # the broadcast side is the node-sized frontier table, so gate on
    # the actual node count (sym is symmetric: src spans every node) —
    # one count on the checkpointed edge partitions
    n_nodes = sym.select("src").distinct().count()

    dist = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("id"), F.lit(0).cast("long").alias("dist"))
    )
    hint = broadcast_hint(spark, n_nodes, dist.schema)
    for _ in range(_SSSP_ROUNDS):
        relax = (
            sym.join(hint(dist), sym["src"] == dist["id"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("cost")).alias("dist"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select(F.col("id").alias("node"), F.col("dist").cast("long").alias("dist"))


# HITS hubs/authorities on the directed supplier->part bipartite graph,
# UN-normalized for two full iterations so every value is an exact
# int64 (normalizing divisions reintroduce engine-specific rounding;
# rank order is normalization-invariant). Growth per half-iteration is
# bounded by the max degree, so values stay far below 2^63 at any
# plausible scale — and the bound is ENFORCED in-plan (raise_error past
# 2^40 per half-step guarantees the next SUM cannot wrap silently while
# DuckDB raises; Spark would otherwise wrap without a word).
_HITS_GUARD = 1 << 40

_HITS_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
a1 AS MATERIALIZED (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY p
),
h1 AS MATERIALIZED (
  SELECT e.s, CAST(SUM(a1.a) AS BIGINT) AS h
  FROM e JOIN a1 ON a1.p = e.p GROUP BY e.s
),
a2 AS MATERIALIZED (
  SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a
  FROM e JOIN h1 ON h1.s = e.s GROUP BY e.p
),
h2 AS MATERIALIZED (
  SELECT e.s, CAST(SUM(a2.a) AS BIGINT) AS h
  FROM e JOIN a2 ON a2.p = e.p GROUP BY e.s
),
top_a AS (
  SELECT 'authority' AS role, CAST(p AS BIGINT) AS id, a AS score
  FROM a2 ORDER BY a DESC, p LIMIT 50
),
top_h AS (
  SELECT 'hub' AS role, CAST(s AS BIGINT) AS id, h AS score
  FROM h2 ORDER BY h DESC, s LIMIT 50
)
SELECT role, id, score FROM top_a
UNION ALL
SELECT role, id, score FROM top_h
"""


@query("hits_exact", oracle=_HITS_ORACLE)
def hits_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 sibling: HITS hubs/authorities (Kleinberg) on the directed
    supplier->part graph — authority(p) = Σ hub(s) over in-edges,
    hub(s) = Σ authority(p) over out-edges, two full iterations in
    exact integers (see module note on why un-normalized).

    Scale shape: each half-iteration is one equi-join of the edge list
    against a node-sized score table (broadcast under the gate) plus
    one keyed aggregation — identical to the pagerank_exact superstep;
    edges localCheckpointed once. Top-k is TakeOrdered, never a global
    sort.
    """
    e = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the broadcast sides are the hub/authority score tables (one row
    # per distinct supplier / part), so gate on those counts directly
    # rather than the edge-row proxy — one agg job on the checkpointed
    # edges
    sides = e.agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("p").alias("np")
    ).head()

    def guarded(col, what):
        return F.when(col < _HITS_GUARD, col).otherwise(
            F.raise_error(
                F.format_string(
                    "hits_exact: %s exceeded the 2^40 capacity guard (%s); "
                    "add a rescale step",
                    F.lit(what),
                    col,
                )
            )
        )

    a1 = e.groupBy("p").agg(guarded(F.count(F.lit(1)), "a1").alias("a"))
    hint = broadcast_hint(spark, max(sides["ns"], sides["np"]), a1.schema)
    h1 = (
        e.join(hint(a1), "p")
        .groupBy("s")
        .agg(guarded(F.sum("a"), "h1").alias("h"))
    )
    a2 = (
        e.join(hint(h1), "s")
        .groupBy("p")
        .agg(guarded(F.sum("h"), "a2").alias("a"))
    )
    h2 = (
        e.join(hint(a2), "p")
        .groupBy("s")
        .agg(guarded(F.sum("a"), "h2").alias("h"))
    )
    top_a = (
        a2.orderBy(F.col("a").desc(), F.col("p"))
        .limit(50)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").cast("long").alias("id"),
            F.col("a").cast("long").alias("score"),
        )
    )
    top_h = (
        h2.orderBy(F.col("h").desc(), F.col("s"))
        .limit(50)
        .select(
            F.lit("hub").alias("role"),
            F.col("s").cast("long").alias("id"),
            F.col("h").cast("long").alias("score"),
        )
    )
    return top_a.unionByName(top_h)


@query(
    "motif_find",
    oracle="""
    SELECT CAST(s.s_nationkey AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY s.s_nationkey
    """,
)
def motif_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 as a registered key: GraphFrames-style motif finding
    (PropertyGraph.find, graph/traversal.py) — the declarative twin of
    Gremlin's pattern steps. The 4-vertex path motif
    (customer)-[placed]->(order)-[contains]->(lineitem)-[supplied_by]->(supplier)
    compiles to exactly the equi-join tree Catalyst would plan for the
    hand-written query: the post-hoc segment filter is pushed down into
    the customer scan, the supplier dim broadcasts, and the motif layer
    adds zero physical operators — a motif is as fast as its join tree.
    """
    from ..graph.traversal import Edge, PropertyGraph
    from ..exact import money_sum

    g = PropertyGraph(
        {
            "Customer": table(spark, sf_dir, "customer"),
            "Order": table(spark, sf_dir, "orders"),
            "Lineitem": table(spark, sf_dir, "lineitem"),
            "Supplier": table(spark, sf_dir, "supplier"),
        },
        [
            Edge("Customer", "placed", "Order", "c_custkey", "o_custkey"),
            Edge("Order", "contains", "Lineitem", "o_orderkey", "l_orderkey"),
            Edge("Lineitem", "supplied_by", "Supplier", "l_suppkey", "s_suppkey"),
        ],
    )
    m = g.find("(c)-[placed]->(o); (o)-[contains]->(l); (l)-[supplied_by]->(s)")
    return (
        m.where(F.col("c_c_mktsegment") == "BUILDING")
        .groupBy(F.col("s_s_nationkey").cast("long").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            money_sum("l_l_quantity", "total_qty"),
        )
    )


# Link prediction (G8 sibling): Adamic-Adar is the standard
# common-neighbor score; 1/log(deg) is float, so the exact-twin form
# uses the harmonic surrogate floor(1e9 / deg(z)) — same ordering
# intuition (rare shared neighbors weigh more), all-integer, identical
# under any summation order on any engine.
@query(
    "link_prediction_aa",
    oracle="""
    WITH pairs AS (
      -- support counts DISTINCT orders (collect_set semantics), not
      -- lineitem row pairs — same form as the kcore oracle
      SELECT a, b FROM (
        SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS a, b.l_partkey AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ) GROUP BY a, b HAVING COUNT(*) >= 2
    ),
    sym AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    wedges AS (
      SELECT s1.v AS a, s2.v AS b, s1.u AS z
      FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
    ),
    cand AS (
      SELECT w.a, w.b, w.z FROM wedges w
      LEFT JOIN pairs p ON p.a = w.a AND p.b = w.b
      WHERE p.a IS NULL
    ),
    scored AS (
      SELECT c.a, c.b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(1000000000 // d.d) AS BIGINT) AS aa_score
      FROM cand c JOIN deg d ON d.u = c.z
      GROUP BY c.a, c.b
    )
    SELECT a, b, n_common, aa_score FROM scored
    ORDER BY aa_score DESC, a, b LIMIT 50
    """,
)
def link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 sibling: top-50 predicted links on the SUPPORT>=2 co-purchase
    graph (the sparse high-confidence projection kcore_membership also
    uses; the support-1 graph is near-complete at every SF — median
    degree ~120 at sf0.1 — so its distance-2 candidate set approaches
    all-pairs and carries no signal) —
    non-adjacent pairs ranked by the integer Adamic-Adar surrogate
    Σ_z floor(1e9 / deg(z)) over common neighbors z (positive integer
    division truncates identically on both engines).

    Scale shape: candidates come only from the distance-2 wedge stream
    (never all-pairs); the wedge join is the triangle-count idiom —
    keyed on the shared neighbor, Σ deg² rows bounded by the order
    fanout, hub vertices split by AQE skew handling; the existing-edge
    filter is an anti-join on the canonical pair key; final cut is
    TakeOrderedAndProject. Reference parity: the co-purchase projection
    generalizes the reference's 2-hop counterparties walk (B:43–46)."""
    pairs, _ = _copurchase_pairs_support(spark, sf_dir, 2)
    sym = _sym_edges(pairs, "u", "v")
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("u").alias("z"), F.col("v").alias("a"))
    s2 = sym.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedges = s1.join(s2, "z").where(F.col("a") < F.col("b"))
    cand = wedges.join(pairs, ["a", "b"], "left_anti")
    scored = (
        cand.join(deg, cand["z"] == deg["u"])
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr("1000000000 div d")).cast("long").alias("aa_score"),
        )
    )
    return scored.orderBy(F.col("aa_score").desc(), "a", "b").limit(50)


def _lpa_oracle(rounds: int) -> str:
    """Unrolled MATERIALIZED-CTE twin of label_propagation: r rounds of
    synchronous most-frequent-neighbor-label updates with (count DESC,
    label ASC) tie-breaking over the star-contraction wallet graph.
    MATERIALIZED is load-bearing (STATUS: default inlining expands
    chained self-referencing CTEs exponentially)."""
    ctes = [
        """raw AS MATERIALIZED (
      SELECT mn AS src, l_partkey AS dst FROM (
        SELECT l_partkey,
               MIN(l_partkey) OVER (PARTITION BY l_orderkey) AS mn
        FROM lineitem
      ) WHERE mn <> l_partkey
    )""",
        """sym AS MATERIALIZED (
      SELECT src, dst FROM raw UNION SELECT dst, src FROM raw
    )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
      SELECT e.src AS node, l.lbl, COUNT(*) AS cnt
      FROM sym e JOIN l{r - 1} l ON l.node = e.dst
      GROUP BY e.src, l.lbl
    )"""
        )
        ctes.append(
            f"""l{r} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node AS part, lbl AS community FROM l{rounds}"
    )


_LPA_ROUNDS = 3


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA core for label_propagation AND community_modularity —
    one implementation so the scored clustering can never silently
    diverge from the emitted one. Returns (raw_ck, sym, labels, hint):
    the DEDUPLICATED canonical star edges (checkpointed), their
    symmetrization (derived from the checkpoint — no second lineitem
    scan), the converged _LPA_ROUNDS label table, and the count-gated
    broadcast hint."""
    raw_ck = (
        _star_edges(spark, sf_dir)
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # star edges are canonical (src is the order's smallest part)
    sym = _sym_edges(raw_ck.toDF("a", "b"))
    # Round 1 folds into a single min-aggregate: with l0(node) = node,
    # every (src, dst-label) vote over the DISTINCT edge set has cnt=1,
    # so the (cnt DESC, lbl ASC) winner is just min(neighbor) — the
    # components.py first-round hash-min fold. One groupBy replaces the
    # join + two-level vote aggregate of a full round.
    # checkpointed label tables carry no size stats, so gate the
    # broadcast explicitly (the connected_components discipline): while
    # the node table fits, every round streams the checkpointed edges
    # map-side with zero edge shuffle. The node count rides the
    # checkpoint job.
    labels, n_nodes = observed_checkpoint(
        sym.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("lbl")),
        F.count(F.lit(1)),
    )
    hint = broadcast_hint(spark, n_nodes, labels.schema)
    for _ in range(_LPA_ROUNDS - 1):
        votes = (
            sym.join(hint(labels.select(F.col("node").alias("dst"), "lbl")), "dst")
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = local_checkpoint(
            votes.groupBy("node").agg(
                F.max_by("lbl", F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg"))).alias(
                    "lbl"
                )
            )
        )
    return raw_ck, sym, labels, hint


@query("label_propagation", oracle=_lpa_oracle(_LPA_ROUNDS))
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (LPA,
    Raghavan et al. 2007) over the star-contraction wallet graph — the
    deterministic variant: every round each node adopts the most
    frequent label among its neighbors, ties broken toward the SMALLER
    label, for a fixed number of rounds (asynchronous/random-order LPA
    is not oracle-checkable). Bounded iteration is replayed by an
    unrolled MATERIALIZED-CTE oracle, the sssp_weighted technique.

    Scale shape: each round is one keyed join (labels into the
    symmetric edge list) + one (node,label) count aggregate + one
    partitioned top-1 window — all shuffles on node ids, never
    pairwise; the loop-carried label table goes through the
    stats-reset checkpoint (plans/iterate.py) so driver-side plan
    analysis stays flat. The label pick maximizes the (cnt, -lbl)
    struct — max_by, no sort."""
    _, _, labels, _ = _lpa_labels(spark, sf_dir)
    return labels.select(F.col("node").alias("part"), F.col("lbl").alias("community"))


@query(
    "degree_histogram",
    oracle="""
    WITH raw AS (
      SELECT mn AS src, l_partkey AS dst FROM (
        SELECT l_partkey,
               MIN(l_partkey) OVER (PARTITION BY l_orderkey) AS mn
        FROM lineitem
      ) WHERE mn <> l_partkey
    ),
    sym AS (SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
    )),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src)
    SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(deg) AS BIGINT) AS min_deg,
           CAST(MAX(deg) AS BIGINT) AS max_deg
    FROM deg GROUP BY length(bin(deg)) - 1
    """,
)
def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the wallet graph — the
    skew diagnostic every graph pipeline runs before choosing a join
    strategy (a heavy top bucket means salting / wedge-stream forms;
    cf. triangle_count's mega-hub note, VERDICT r6). The bucket is
    floor(log2(deg)) computed as length(bin(deg)) - 1 — pure integer/
    string primitives with identical semantics in both engines, no
    float log boundary risk. Two aggregates, both map-side
    combinable; output is O(log maxdeg) rows."""
    raw = _star_edges(spark, sf_dir).select(F.col("src").alias("a"), F.col("dst").alias("b"))
    # canonical (src is the order's smallest part) but not distinct
    sym = _sym_edges(raw).distinct()
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    bucket = (F.length(F.bin("deg")) - 1).cast("long").alias("bucket")
    return deg.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
    )


_KTRUSS_K = 3
_KTRUSS_ROUNDS = 8  # loud-raise bound; fixture converges in <= 6


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled MATERIALIZED-CTE twin of the k-truss peel: `rounds`
    iterations of per-edge triangle-support counting + threshold keep.
    The Spark side RAISES if it needs more than `rounds` rounds, so
    the bound cannot silently drift (the kcore discipline)."""
    ctes = [
        """base AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT l.l_partkey AS a, r.l_partkey AS b,
               COUNT(DISTINCT l.l_orderkey) AS s
        FROM lineitem l JOIN lineitem r
          ON l.l_orderkey = r.l_orderkey AND l.l_partkey < r.l_partkey
        GROUP BY l.l_partkey, r.l_partkey
      ) WHERE s >= 2
    )""",
        "e0 AS MATERIALIZED (SELECT a, b FROM base)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""s{r} AS MATERIALIZED (
      SELECT e.a, e.b, COUNT(*) AS c
      FROM e{r} e
      JOIN (SELECT a, b FROM e{r} UNION ALL SELECT b, a FROM e{r}) x
        ON x.a = e.a
      JOIN (SELECT a, b FROM e{r} UNION ALL SELECT b, a FROM e{r}) y
        ON y.a = e.b AND y.b = x.b
      GROUP BY e.a, e.b
    )"""
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT a, b FROM s{r} WHERE c >= {k - 2})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s.a, s.b, CAST(s.c AS BIGINT) AS support
    FROM s{rounds - 1} s JOIN e{rounds} e ON e.a = s.a AND e.b = s.b
    """
    )


@query("ktruss_edges", oracle=_ktruss_oracle(_KTRUSS_K, _KTRUSS_ROUNDS))
def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-truss decomposition (k=3) of the support-2 co-purchase graph —
    the EDGE-level cohesion dual of k-core (Neo4j GDS / TigerGraph both
    ship it): iteratively drop every edge in fewer than k-2 triangles,
    recount support on the induced subgraph, repeat to fixpoint;
    surviving edges form the maximal subgraph where every edge is
    triangle-reinforced. Returns (a, b, support) at the fixpoint.

    Scale shape per round: one wedge equi-join keyed on the shared
    endpoint (the triangle_count idiom — Σ deg² intermediate rows,
    AQE-skew-handled; never pairwise) + one count aggregate + one
    filter; the edge set shrinks monotonically so rounds get cheaper.
    Loop discipline: stats-reset checkpoint per round with the edge
    count riding the checkpoint job as an observe() metric (zero probe
    jobs); convergence = count unchanged. Raises if _KTRUSS_ROUNDS is
    exceeded so the unrolled oracle can never silently disagree."""
    # _copurchase_pairs_support already returns the (a, b)-projected,
    # eagerly checkpointed edge set AND its count — reuse both instead
    # of re-materializing (review r8)
    e, n_prev = _copurchase_pairs_support(spark, sf_dir, 2)
    supp = None
    for _ in range(_KTRUSS_ROUNDS):
        sym = _sym_edges(e, "a", "b")
        x = sym.select(F.col("a").alias("ea"), F.col("b").alias("z"))
        y = sym.select(F.col("a").alias("eb"), F.col("b").alias("z2"))
        supp = (
            e.join(x, e.a == x.ea)
            .join(y, (e.b == y.eb) & (x.z == y.z2))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        nxt, n_next = observed_checkpoint(
            supp.where(F.col("c") >= _KTRUSS_K - 2).select("a", "b"),
            F.count(F.lit(1)),
        )
        e = nxt
        if n_next == n_prev:
            return supp.join(e, ["a", "b"]).select(
                "a", "b", F.col("c").cast("long").alias("support")
            )
        n_prev = n_next
    raise RuntimeError(
        f"k-truss peel did not converge within {_KTRUSS_ROUNDS} rounds;"
        " the unrolled oracle would silently disagree — raise the bound"
        " in BOTH _KTRUSS_ROUNDS and _ktruss_oracle"
    )


def _modularity_oracle(rounds: int) -> str:
    """LPA labels (the _lpa_oracle CTE chain) + modularity bookkeeping:
    within-community edge counts and community degree sums as exact
    integers, the per-community Newman term quantized to int nanos
    before the cross-community sum (order-independent)."""
    lpa = _lpa_oracle(rounds)
    # strip the final SELECT; keep the CTE chain
    ctes = lpa[: lpa.rindex("SELECT node AS part")].rstrip()
    return (
        ctes
        + f""",
    rawd AS (SELECT DISTINCT src, dst FROM raw),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM rawd),
    lab AS (SELECT node, lbl FROM l{rounds}),
    within AS (
      SELECT la.lbl, COUNT(*) AS lc
      FROM rawd r JOIN lab la ON la.node = r.src
                  JOIN lab lb ON lb.node = r.dst AND lb.lbl = la.lbl
      GROUP BY la.lbl
    ),
    degs AS (
      SELECT la.lbl, COUNT(*) AS dc
      FROM sym s JOIN lab la ON la.node = s.src
      GROUP BY la.lbl
    ),
    terms AS (
      SELECT d.lbl,
             CAST(ROUND((CAST(COALESCE(w.lc, 0) AS DOUBLE) / m.m
                         - POWER(CAST(d.dc AS DOUBLE) / (2 * m.m), 2)) * 1e9)
                  AS BIGINT) AS nanos
      FROM degs d LEFT JOIN within w ON w.lbl = d.lbl, m
    )
    SELECT CAST(m.m AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM degs) AS BIGINT) AS n_communities,
           CAST((SELECT SUM(nanos) FROM terms) AS BIGINT) AS modularity_nanos,
           CAST((SELECT SUM(nanos) FROM terms) AS DOUBLE) / 1e9 AS modularity
    FROM m
    """
    )


@query("community_modularity", oracle=_modularity_oracle(_LPA_ROUNDS))
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the label_propagation communities over the
    wallet graph — the evaluation metric that tells you whether a
    community assignment is better than chance: Q = Σ_c [L_c/m −
    (D_c/2m)²] with L_c = within-community edges, D_c = community
    degree sum, m = undirected edge count. Every input to the formula
    is an exact integer aggregate; each community's term is quantized
    to int nanos BEFORE the cross-community sum (order-independent,
    the surprisal/BM25 technique), so the score is bit-identical
    across engines.

    Scale shape: the LPA rounds dominate (see label_propagation);
    the bookkeeping afterwards is two keyed joins of the edge list
    against the broadcast-gated label table plus node-sized
    aggregates — one edge pass for L_c, one for D_c, then an
    O(#communities) reduction."""
    raw_ck, sym, labels, hint = _lpa_labels(spark, sf_dir)
    m = raw_ck.count()
    la = labels.select(F.col("node").alias("src"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("lbl").alias("lb"))
    within = (
        raw_ck.join(hint(la), "src")
        .join(hint(lb), "dst")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    degs = (
        sym.join(hint(la), "src")
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    terms = degs.join(within, "lbl", "left").select(
        F.round(
            (
                F.coalesce(F.col("lc"), F.lit(0)).cast("double") / F.lit(float(m))
                - F.pow(F.col("dc").cast("double") / F.lit(2.0 * m), 2)
            )
            * 1e9
        )
        .cast("long")
        .alias("nanos")
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("nanos").cast("long").alias("modularity_nanos"),
    )
    return agg.select(
        F.lit(m).cast("long").alias("n_edges"),
        F.col("n_communities").cast("long").alias("n_communities"),
        "modularity_nanos",
        (F.col("modularity_nanos").cast("double") / 1e9).alias("modularity"),
    )


@query(
    "association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    ci AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items
           GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    rules AS (
      SELECT a AS antecedent, b AS consequent, c_ab FROM pairs
      UNION ALL
      SELECT b, a, c_ab FROM pairs
    )
    SELECT r.antecedent, r.consequent, r.c_ab,
           ca.c AS c_ante, cc.c AS c_cons,
           CAST(ROUND(CAST(r.c_ab AS DOUBLE) * 1e9 / ca.c) AS BIGINT)
             AS confidence_nanos,
           CAST(ROUND(CAST(r.c_ab AS DOUBLE) * n.n_orders * 1e9
                      / (ca.c * cc.c)) AS BIGINT) AS lift_nanos
    FROM rules r
    JOIN ci ca ON ca.l_partkey = r.antecedent
    JOIN ci cc ON cc.l_partkey = r.consequent, n
    ORDER BY lift_nanos DESC, antecedent, consequent
    LIMIT 20
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the order->part bipartite
    family (copurchase_weights' weighted projection turned into the
    classic support/confidence/lift triple): for every directed rule
    a=>b with pair support >= 2, confidence = c_ab/c_a and lift =
    N*c_ab/(c_a*c_b), both int-nanos-quantized ratios of exact
    integer order counts; top-20 by (lift DESC, keys) — a
    TakeOrdered, never a global sort. The recommender/affinity
    primitive behind "frequently bought together".

    Scale shape: pair candidates come from the per-order combination
    expansion (each order's distinct sorted part set emits its C(k,2)
    pairs map-side — _basket_pairs; hub orders are
    bounded by basket size, not catalog size), pair and item supports
    are map-side-combinable aggregates, and the two unigram probes are
    broadcast-joined against the O(#parts) count table. The support
    floor prunes the rule set before the probes."""
    # r17 (VERDICT r16 #6): below the gate, the grouped basket arrays
    # are eagerly materialized ONCE and everything (pair supports, item
    # supports, order count) derives from that checkpoint — the
    # previous form scanned lineitem THREE times (the distinct, ci,
    # per_order subtrees; profiled: 3 scan stages at sf0.1).
    # collect_set dedups within the order,
    # so the separate distinct pass is redundant; ci(p) = #orders whose
    # basket contains p = explode of the distinct arrays; n_orders =
    # basket count. Above the gate the original streaming form runs
    # unchanged — at 100 TB an O(E) localCheckpoint is a memory-budget
    # call the operator should not make implicitly.
    n_li = parquet_num_rows(sf_dir, "lineitem")
    per_order = _order_baskets(spark, sf_dir)
    if n_li <= 50_000_000:
        per_order = per_order.localCheckpoint(eager=True)
        n = per_order.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        ci = (
            per_order.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
    else:
        items = (
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        n = items.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
        ci = items.groupBy("l_partkey").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
    pairs = (
        _basket_pairs(per_order)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= 2)
    )
    rules = pairs.select(
        F.col("a").alias("antecedent"), F.col("b").alias("consequent"), "c_ab"
    ).unionAll(
        pairs.select(
            F.col("b").alias("antecedent"), F.col("a").alias("consequent"), "c_ab"
        )
    )
    ca = ci.select(F.col("l_partkey").alias("antecedent"), F.col("c").alias("c_ante"))
    cc = ci.select(F.col("l_partkey").alias("consequent"), F.col("c").alias("c_cons"))
    out = (
        rules.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cc), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "c_ab",
            "c_ante",
            "c_cons",
            F.round(F.col("c_ab").cast("double") * 1e9 / F.col("c_ante"))
            .cast("long")
            .alias("confidence_nanos"),
            F.round(
                F.col("c_ab").cast("double")
                * F.col("n_orders")
                * 1e9
                / (F.col("c_ante") * F.col("c_cons"))
            )
            .cast("long")
            .alias("lift_nanos"),
        )
    )
    return out.orderBy(F.desc("lift_nanos"), "antecedent", "consequent").limit(20)


@query(
    "subtree_rollup",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS child, p_partkey // 10 AS par
      FROM part WHERE p_partkey // 10 >= 1
    ),
    anc AS (
      SELECT p_partkey AS node, p_partkey AS anc FROM part
      UNION ALL
      SELECT a.node, e.par FROM anc a JOIN edges e ON e.child = a.anc
    ),
    vals AS (
      SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM part
    )
    SELECT anc.anc AS node,
           CAST(COUNT(*) AS BIGINT) AS n_subtree,
           CAST(SUM(c) AS BIGINT) AS subtree_cents
    FROM anc JOIN vals ON vals.p_partkey = anc.node
    GROUP BY anc.anc
    """,
)
def subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtree rollup — per-node totals over ALL descendants
    (incl. self) of the decimal part taxonomy (parent = key div 10; the
    category-tree aggregate every catalog/org-chart report needs, and
    the recursive shape the reference's repeat/until traversal
    (B:43-46) would express one hop at a time).

    Spark-first shape: the parent function is ARITHMETIC, so the
    ancestor closure is PATH ENUMERATION — each row map-side expands
    its own ancestor chain (<= 19 entries for int64 keys: key div
    10^k for k = 1..18 filtered to >= 1 — int64 max has 19 digits, so
    18 divisions reach every ancestor) and one explode + one hash
    aggregate produces
    every subtree total. ZERO joins, zero iterations, one shuffle of
    n x depth = n log n rows — the materialized-path technique
    production hierarchies use at scale. The oracle instead walks
    parent EDGES with a recursive CTE, so the cross-engine check
    proves path enumeration == edge recursion on this forest (keys are
    dense from 0, so every arithmetic ancestor >= 1 exists as a part
    and the two walks visit identical chains; node 0 is its own root
    -- 0 div 10 = 0 -- and contributes only its self row)."""
    part = table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
    )
    levels = F.array(*[F.expr(f"p_partkey div {10 ** k}") for k in range(1, 19)])
    ancs = F.concat(
        F.array(F.col("p_partkey")), F.filter(levels, lambda x: x >= 1)
    )
    return (
        part.select(F.explode(ancs).alias("node"), "c")
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_subtree"),
            F.sum(F.col("c").cast("decimal(38,0)")).cast("long").alias("subtree_cents"),
        )
        .select(F.col("node").cast("long").alias("node"), "n_subtree", "subtree_cents")
    )


@query(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
      UNION ALL
      SELECT node, cur // 10, depth + 1 FROM walk WHERE cur >= 10
    )
    SELECT node,
           CAST(MAX(depth) AS BIGINT) AS depth,
           CAST(MIN(cur) AS BIGINT) AS root
    FROM walk GROUP BY node
    """,
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECLARATIVE twin of `subtree_rollup`: per-node depth and
    root of the part taxonomy via Spark 4's native WITH RECURSIVE
    (SPARK-24497) — the same SQL text DuckDB runs as the oracle, modulo
    `div` spelling. This is the reference's repeat/until loop (B:43-46)
    expressed as a single recursive query on BOTH engines: Catalyst
    plans each recursion step as an incremental union over the previous
    frontier, and the recursion depth is bounded by log10(key domain)
    (<= 13 for int64 keys), so at 100 TB the execution is a handful of
    frontier scans, never row-at-a-time. Cross-checks the arithmetic
    walk used by subtree_rollup's path enumeration."""
    # Spark 4 guards runaway recursion with a 1M-ROW default limit
    # (spark.sql.cteRecursionRowLimit), which the sf1 decade exceeds
    # legitimately: the walk emits |part| x (depth+1) rows, ~1.4M at
    # sf1, bounded by |part| x 14 for int64 keys. Session-level (not
    # scoped) because the limit is enforced at EXECUTION time, after
    # the builder returns the lazy plan. Sized to THIS query (|part| x
    # 14 + margin, ADVICE r15) so the runaway-recursion safety valve
    # stays meaningful for later recursive queries in the same session
    # — the count() is a parquet-metadata read, not a scan.
    part = table(spark, sf_dir, "part")
    n_part = part.count()
    spark.conf.set(
        "spark.sql.cteRecursionRowLimit",
        str(max(1_000_000, n_part * 14 + 1000)),
    )
    part.createOrReplaceTempView("part_rcte")
    return spark.sql("""
      WITH RECURSIVE walk AS (
        SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth
        FROM part_rcte
        UNION ALL
        SELECT node, cur DIV 10, depth + 1 FROM walk WHERE cur >= 10
      )
      SELECT node,
             CAST(MAX(depth) AS BIGINT) AS depth,
             CAST(MIN(cur) AS BIGINT) AS root
      FROM walk GROUP BY node
    """)
